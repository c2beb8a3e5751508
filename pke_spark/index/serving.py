"""Index-backed serving for the full query surface: term-dictionary
expansion (prefix / fuzzy), the Lucene-lite query-string language, and
snippet highlighting — all answered FROM THE INDEX, never by rescanning
the corpus.

This is the 100-TB counterpart of ``ops/termexpand.py`` /
``ops/querylang.py`` / ``ops/snippets.py`` (which define the semantics
relationally and carry the DuckDB oracles): at scale a query must touch
only (a) the term dictionary rows its atoms prune to, (b) the posting
lists of its (expanded) terms, (c) the positional sidecar blocks of its
phrase terms, and (d) a metadata filter set — exactly what this module
reads. Row-for-row parity with the DataFrame ops is asserted in
``tests/test_serving_lang.py``.

Physical shapes:

- **dictionary expansion** (``_expand``): the prefix range
  ``[p, p + U+10FFFF)`` picks the postings row groups whose footer
  ``term`` min/max meet it (a run of adjacent groups per term-sorted
  file), whose ``(term, df)`` columns are read one group at a time
  (``blocks`` is never touched) and filtered by one ``pyarrow.compute``
  mask — range, LIKE, RE2 regex, or the fuzzy length band — before a
  numpy edit distance, df sum, ranking and cap. No query engine runs:
  Lucene's MultiTermQuery rewrite against its terms dict.
- **query-string execution**: one candidate-set algebra,
  ``_candidates`` (min_should_match, MUST, groups, MUST_NOT as
  sorted-array set ops on posting doc arrays), and one numpy BM25
  scorer, ``_BatchScorer``, serve every driver path — single query,
  batch, expansions, MLT, ``wand.search`` / ``boolean_search`` — and
  every bucket task of the distributed plan. Phrase clauses decode
  only their terms' positional blocks (a Spark job over the sidecar —
  the one part of a query that is corpus-sized in the worst case);
  metadata filters resolve to a doc-set once per query (Lucene's
  filter bitset), via one DuckDB scan of the documents parquet,
  translated to ordinals by binary search on the reader's resident
  docmap when the index is dense.
- **snippets**: top-k first, then positional blocks for (query terms x
  k docs) only — the match-position table is tiny by construction.

Like ``wand.search``, these are coordinator-serving paths: posting
lists are dictionary-bounded per query. A query whose lists exceed
driver memory falls back to the distributed scorer for ranking
(``wand_topk``), and constraint sets stay numpy arrays.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ops.querylang import (ParsedQuery, filters_condition,
                             filters_predicate,
                             parse_querystring)
from .build import IndexReader
from ..rows import rows_df
from .positions import term_positions
from .wand import B, K1, _bm25_columns, _idf, _translate_rows



def _route_distributed(ix: IndexReader, pq: "ParsedQuery",
                       score_terms: list[str],
                       docs_parquet: str | None) -> bool:
    """The driver-vs-distributed routing decision shared by search /
    count / sort: posting rows of EVERY term whose match set the
    driver path materializes must fit the fast-path budget — score
    terms, MUST_NOT terms, and the terms of negated + sloppy phrase
    clauses (VERDICT r4: a hot negated phrase used to escape the
    budget and collect its full match set driver-side). AND — since
    posting rows aren't the only driver-side set — an unselective
    metadata filter ('lang:en' matching most of the corpus) routes
    distributed too, decided by one COUNT(*) point read."""
    budget_terms = set(score_terms) | set(pq.must_not)
    for nph in pq.not_phrases:
        budget_terms.update(nph)
    for terms, _slop in pq.slop_phrases:
        budget_terms.update(terms)
    if _over_budget(ix, sorted(budget_terms)):
        return True
    if pq.filters:
        if docs_parquet is None:
            raise ValueError(
                "query has field filters; pass docs_parquet (the index "
                "stores no document metadata)")
        from .wand import _fastpath_bound
        pred = filters_predicate(pq.filters)
        n_match = ix._duckdb().execute(
            f"SELECT count(*) FROM read_parquet('{docs_parquet}') "
            f"WHERE {pred}").fetchone()[0]
        return int(n_match) > _fastpath_bound(ix)
    return False


def _over_budget(ix: IndexReader, terms: list[str]) -> bool:
    """True when the terms' total posting rows exceed the driver
    fast-path budget (same routing rule as ``wand.search``) — the
    caller must take the distributed plan."""
    from .wand import _fastpath_bound
    return sum(ix.term_dfs(terms).values()) > _fastpath_bound(ix)


# ------------------------------------------------------------ expansion

def _levenshtein(terms: pa.Array, query: str, max_edits: int,
                 pool) -> np.ndarray:
    """Code-point edit distance from each of ``terms`` to ``query``, or
    some value above ``max_edits``: the Wagner-Fischer table filled one
    term position at a time for all terms at once, dropping a term once
    its column minimum exceeds ``max_edits`` (Ukkonen's cut-off)."""
    lens = pc.utf8_length(terms, memory_pool=pool).to_numpy()
    _, offs, data = terms.buffers()
    offs = np.frombuffer(offs, np.int32, len(terms) + 1, 4 * terms.offset)
    text = bytes(data or b"")[offs[0]:offs[-1]].decode()
    cps = np.zeros((max(lens.max(), 1), len(lens)), np.uint32)
    cps[np.arange(len(text)) - np.repeat(np.cumsum(lens) - lens, lens),
        np.repeat(np.arange(len(lens)), lens)] = np.frombuffer(
            text.encode("utf-32-le"), np.uint32)
    q = np.frombuffer(query.encode("utf-32-le"), np.uint32)[:, None]
    dist = np.where(lens == 0, len(q), max_edits + 1)
    live = np.arange(len(lens))
    col = np.tile(np.arange(len(q) + 1, dtype=np.int32)[:, None], len(lens))
    for j in range(lens.max()):
        prev, col = col, np.empty_like(col)
        col[0] = j + 1
        np.minimum(prev[1:] + 1, prev[:-1] + (cps[j, live] != q),
                   out=col[1:])
        for i in range(1, len(q) + 1):
            np.minimum(col[i], col[i - 1] + 1, out=col[i])
        end = lens[live] == j + 1
        dist[live[end]] = col[-1, end]
        keep = np.flatnonzero(~end & (col.min(axis=0) <= max_edits))
        live, col = live[keep], col[:, keep]
    return dist


def _expand(ix: IndexReader, prefix: str, max_expansions: int,
            match: tuple[str, str] | None = None,
            near: tuple[str, int] | None = None) -> list[str]:
    """The dictionary scan of every ``expand_*_indexed``: per row group
    that can hold a term starting with ``prefix`` (any, if empty), one
    mask keeps those terms that ``match`` (a ``pyarrow.compute`` kernel,
    pattern) accepts or whose length is within max_edits of ``near=(query,
    max_edits)``; the driver holds one group plus the matches. Ranked
    (df DESC, term ASC), for ``near`` by distance first; capped."""
    pool = pa.system_memory_pool()  # as _read_row_group reads with
    hi = prefix + chr(0x10FFFF) if prefix else None
    kept = []
    for tbl in ix._read_rows(ix._row_groups_in(prefix, hi), ["term", "df"]):
        terms = tbl.column("term")
        mask = np.ones(tbl.num_rows, bool)
        if prefix:  # [prefix, hi): the range the row groups were picked by
            mask &= pc.greater_equal(terms, prefix, memory_pool=pool) \
                .to_numpy() & pc.less(terms, hi, memory_pool=pool).to_numpy()
        if match is not None:
            mask &= pc.call_function(
                match[0], [terms], pc.MatchSubstringOptions(match[1]),
                memory_pool=pool).to_numpy()
        if near is not None:
            size = pc.utf8_length(terms, memory_pool=pool).to_numpy()
            mask &= abs(size - len(near[0])) <= near[1]
        if mask.any():
            kept.append(pc.filter(tbl, mask, memory_pool=pool))
    if not kept:
        return []
    rows = pa.concat_tables(kept, memory_pool=pool)
    terms = rows.column("term").combine_chunks(memory_pool=pool)
    uniq = pc.unique(terms, memory_pool=pool)
    uniq = uniq.take(pc.sort_indices(uniq, memory_pool=pool))
    at = pc.index_in(terms, value_set=uniq, memory_pool=pool).to_numpy()
    df = np.bincount(at, weights=rows.column("df").to_numpy(),
                     minlength=len(uniq))
    dist = (_levenshtein(uniq, *near, pool) if near
            else np.zeros(len(uniq), int))
    order = np.lexsort((-df, dist))  # stable: equal keys keep term order
    order = order[dist[order] <= (near[1] if near else 0)]
    return uniq.take(order[:max(int(max_expansions), 0)]).to_pylist()


def expand_prefix_indexed(ix: IndexReader, prefix: str,
                          max_expansions: int = 32) -> list[str]:
    """Expansion terms for ``prefix*`` from the index term dictionary,
    (df DESC, term ASC)-ranked and capped — identical semantics to
    ``ops.termexpand.expand_prefix`` (parity-tested). One pruned
    dictionary range scan (``_expand``).

    Deleted-doc df caveat (ADVICE r4, all ``expand_*_indexed``): the
    ranking df is the BUILD-TIME count and still includes tombstoned
    docs until ``purge_deleted``/compaction rewrites the postings —
    exactly Lucene's ``docFreq`` semantics, where deletes don't touch
    term statistics until a segment merge. With outstanding tombstones
    a capped expansion set can therefore order differently from the
    live-df corpus twin (which the row-for-row parity tests avoid by
    purging first); match SETS still exclude tombstoned docs on every
    path. Pinned by tests/test_delete.py::
    test_expansion_df_semantics_with_tombstones."""
    if not prefix:
        raise ValueError("empty prefix would expand the whole vocabulary")
    return _expand(ix, prefix, max_expansions)


def expand_fuzzy_indexed(ix: IndexReader, term: str, max_edits: int = 1,
                         prefix_len: int = 1,
                         max_expansions: int = 32) -> list[str]:
    """Expansion terms for ``term~max_edits`` from the index term
    dictionary: prefixLength range + length band gate the dictionary
    scan BEFORE any edit distance is computed, then (distance ASC,
    df DESC, term ASC), capped — identical semantics to
    ``ops.termexpand.expand_fuzzy``. Lengths and distances count code
    points, as Spark's ``levenshtein`` and Lucene do; the DuckDB
    oracle twins' ``levenshtein`` counts UTF-8 bytes ('café' to 'cafe'
    is 2 there), which is identical on ASCII data only."""
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1 (0 is a TermQuery)")
    return _expand(ix, term[:max(prefix_len, 0)], max_expansions,
                   near=(term, int(max_edits)))


def expand_wildcard_indexed(ix: IndexReader, pattern: str,
                            max_expansions: int = 32) -> list[str]:
    """Expansion terms for a wildcard pattern from the index term
    dictionary — literal-prefix range + LIKE (``match_like``, with the
    same ``\\`` escape), (df DESC, term ASC)-ranked, capped. Parity:
    ``ops.termexpand.expand_wildcard``."""
    from ..ops.termexpand import (_check_wildcard, wildcard_like,
                                  wildcard_prefix)
    _check_wildcard(pattern)
    return _expand(ix, wildcard_prefix(pattern), max_expansions,
                   ("match_like", wildcard_like(pattern)))


def expand_regex_indexed(ix: IndexReader, pattern: str,
                         max_expansions: int = 32) -> list[str]:
    """Expansion terms for a RegexpQuery from the index term
    dictionary — whole-term RE2 match (``^(?:pattern)$``, the engine of
    DuckDB's ``regexp_full_match``), best-effort literal-prefix range
    gate (none: the whole dictionary, Lucene's automaton worst case).
    Parity: ``ops.termexpand.expand_regex``.

    A pattern must compile in both Python ``re`` (the twin's check) and
    RE2, the engine of the match: RE2 has no lookaround (``(?=``,
    ``(?!``, ``(?<=``, ``(?<!``), no backreferences (``\\1``) and no
    possessive or atomic groups. Anything else raises ``ValueError``
    up front, whether or not a row group holds a candidate term (RE2
    compiles a pattern only when it meets a value, so one probe string
    makes it fail here rather than at the first candidate)."""
    import re as _re

    from ..ops.termexpand import regex_prefix
    full = f"^(?:{pattern})$"
    try:
        _re.compile(pattern)
        pool = pa.system_memory_pool()   # as in _expand
        pc.match_substring_regex(pa.array([""], memory_pool=pool), full,
                                 memory_pool=pool)
    except (_re.error, pa.ArrowInvalid) as e:
        raise ValueError(f"bad regex {pattern!r}: {e}") from e
    return _expand(ix, regex_prefix(pattern), max_expansions,
                   ("match_substring_regex", full))


def _clause_expansions(ix: IndexReader, pq: ParsedQuery,
                       max_expansions: int) -> list:
    """Per-clause expanded term lists in the canonical order
    (prefixes, fuzzies, wildcards, regexes) — the shape
    ``expansion_weights`` consumes."""
    out = [expand_prefix_indexed(ix, p, max_expansions)
           for p, _ in pq.prefixes]
    out += [expand_fuzzy_indexed(ix, t, e, 1, max_expansions)
            for t, e, _ in pq.fuzzies]
    out += [expand_wildcard_indexed(ix, p, max_expansions)
            for p, _ in pq.wildcards]
    out += [expand_regex_indexed(ix, p, max_expansions)
            for p, _ in pq.regexes]
    return out


# ------------------------------------------------------- doc-set helpers

def _docids_to_postspace(ix: IndexReader, doc_ids: np.ndarray) -> np.ndarray:
    """Translate raw doc_ids into a sorted posting-space set
    (ordinals when the index is dense, identity otherwise) — a binary
    search on the reader's resident docmap; the set is a query-scoped
    filter bitset, never the corpus."""
    if not ix.dense:
        return np.sort(np.asarray(doc_ids, dtype=np.int64))
    return ix.ords_of(doc_ids)


def _metadata_filter_set(ix: IndexReader, docs_parquet: str,
                         filters: list) -> np.ndarray:
    """Posting-space doc set satisfying every filter (equality or
    numeric range) — Lucene's filter bitset, resolved once per query by
    a column-pruned predicate-pushdown scan of the documents parquet."""
    pred = filters_predicate(filters)
    ids = ix._duckdb().execute(
        f"SELECT doc_id FROM read_parquet('{docs_parquet}') "
        f"WHERE {pred}").fetchnumpy()["doc_id"]
    return _docids_to_postspace(
        ix, np.ascontiguousarray(ids, dtype=np.int64))


def _phrase_ids_df(ix: IndexReader, phrase: list[str]):
    """RAW doc_ids (DataFrame, one column ``doc_id``) containing the
    exact token sequence, computed from the positional sidecar
    (decodes only the phrase terms' blocks; the start-alignment
    groupBy is the same plan ``positions.phrase_topk_indexed`` is
    parity-gated on)."""
    pos = term_positions(ix.spark, ix.index_dir, phrase)
    off = rows_df(ix.spark, [(t, i) for i, t in enumerate(phrase)],
                  "term string, off int")
    hits = (pos.join(F.broadcast(off), "term")
            .select("doc_id", (F.col("pos") - F.col("off")).alias("start"),
                    "off"))
    return (hits.groupBy("doc_id", "start")
            .agg(F.countDistinct("off").alias("n_off"))
            .where(F.col("n_off") == len(phrase))
            .select("doc_id").distinct())


def _phrase_doc_set(ix: IndexReader, phrase: list[str]) -> np.ndarray:
    """Posting-space doc set for a phrase clause (driver path). Arrow
    collection: a phrase can match a corpus-sized doc set, and pickled
    Row deserialization was 70% of the warm driver-path latency at 2M
    docs (profile, round 5) — one Arrow column transfers in ~100x less
    driver CPU. Memoized in the reader's doc-set LRU (Lucene's
    LRUQueryCache shape): the positional-sidecar job runs once per
    distinct clause per reader, repeats are an O(1) lookup."""
    def compute():
        ids = _phrase_ids_df(ix, phrase).toArrow()
        return _docids_to_postspace(
            ix, ids["doc_id"].to_numpy().astype(np.int64, copy=False))
    return ix.docset_cache("ph:" + "\x1f".join(phrase), compute)


def _slop_ids_df(ix: IndexReader, terms: list[str], slop: int):
    """RAW doc_ids (DataFrame) matching a sloppy-phrase clause, off
    the positional sidecar (decodes only the clause terms' blocks)."""
    from ..ops.phrase import spannear_ids_from_positions
    pos = term_positions(ix.spark, ix.index_dir, sorted(set(terms)))
    return spannear_ids_from_positions(pos, terms, slop)


def _slop_doc_set(ix: IndexReader, terms: list[str],
                  slop: int) -> np.ndarray:
    """Posting-space doc set for a sloppy-phrase clause (driver path).
    Arrow-collected and LRU-memoized like ``_phrase_doc_set``."""
    def compute():
        ids = _slop_ids_df(ix, terms, slop).toArrow()
        return _docids_to_postspace(
            ix, ids["doc_id"].to_numpy().astype(np.int64, copy=False))
    return ix.docset_cache(
        f"slop{int(slop)}:" + "\x1f".join(terms), compute)


# ------------------------------------------------- candidates and scoring

def _candidates(pq: ParsedQuery, exp_lists: list, min_should_match: int,
                docs_of, score_terms: list[str], required=(),
                excluded=()) -> np.ndarray | None:
    """The posting-set algebra of every driver path and of every bucket
    task: min_should_match, MUST, the required groups, then the
    ``required`` doc sets, less the MUST_NOT postings and the
    ``excluded`` doc sets.

    ``docs_of(terms)`` gives the sorted, non-empty posting doc arrays of
    those ``terms`` that have postings — the reader's decoded-postings
    LRU on the driver, a bucket's decoded doc range on an executor.
    ``required`` / ``excluded`` carry the positional and metadata-filter
    sets, which only the driver computes; both are consumed lazily, so
    no set is computed once the candidates are empty.

    Returns the sorted posting-space candidates, None when no clause
    constrains (every doc with a score-term posting is a candidate), or
    an empty array when nothing can match."""
    nothing = np.empty(0, dtype=np.int64)
    cand = None

    def narrow(doc_set: np.ndarray) -> np.ndarray:
        if cand is None:
            return np.sort(np.asarray(doc_set, dtype=np.int64))
        return np.intersect1d(cand, doc_set, assume_unique=True)

    if min_should_match:
        if min_should_match > pq.n_should_clauses:
            return nothing  # Lucene BooleanQuery semantics
        clause_sets = []
        for terms, need in (pq.should_clauses
                            + [(sorted(set(ts)), 1) for ts in exp_lists]):
            arrs = docs_of(terms)
            if len(arrs) < need:
                continue
            if need == 1:
                clause_sets.append(np.unique(np.concatenate(arrs)))
            else:  # soft phrase: a doc needs ALL its distinct tokens
                s = arrs[0]
                for a in arrs[1:]:
                    s = np.intersect1d(s, a, assume_unique=True)
                clause_sets.append(s)
        docs_u, counts = np.unique(
            np.concatenate(clause_sets) if clause_sets else nothing,
            return_counts=True)
        cand = docs_u[counts >= min_should_match]
        if not len(cand):
            return nothing
    musts = sorted(set(pq.must))
    must_sets = docs_of(musts) if musts else []
    if len(must_sets) < len(musts):
        return nothing  # a required term has no postings
    group_sets = (np.unique(np.concatenate(arrs)) if arrs else nothing
                  for arrs in (docs_of(sorted(set(ts)))
                               for ts, _gb in pq.must_any))
    for doc_set in itertools.chain(must_sets, group_sets, required):
        cand = narrow(doc_set)
        if not len(cand):
            return nothing
    excl = docs_of(sorted(set(pq.must_not))) if pq.must_not else []
    excl += [s for s in excluded if len(s)]
    if excl:
        if cand is None:
            arrs = docs_of(score_terms)
            if not arrs:
                return nothing
            cand = np.unique(np.concatenate(arrs))
        cand = cand[~np.isin(cand, np.unique(np.concatenate(excl)),
                             assume_unique=True)]
    return cand


def _driver_docs(ix: IndexReader):
    """The driver's ``docs_of`` for ``_candidates``: posting doc arrays
    from the reader's decoded-postings LRU (tombstones applied)."""
    def docs_of(terms: list[str]) -> list[np.ndarray]:
        posts = ix.decoded_postings(sorted(ix.term_dfs(terms)))
        return [d for d, _tf, _dl in posts.values() if len(d)]
    return docs_of


def _driver_candidates(ix: IndexReader, pq: ParsedQuery, exp_lists: list,
                       score_terms: list[str], docs_parquet: str | None,
                       min_should_match: int) -> np.ndarray | None:
    """``_candidates`` on the driver, with the clauses only the driver
    evaluates: phrase and sloppy-phrase sets off the positional sidecar,
    the metadata filter set, and negated phrases."""
    if pq.filters and docs_parquet is None:
        raise ValueError(
            "query has field filters; pass docs_parquet (the index "
            "stores no document metadata)")

    def required():
        for ph in pq.phrases:
            yield _phrase_doc_set(ix, ph)
        for terms, slop in pq.slop_phrases:
            yield _slop_doc_set(ix, terms, slop)
        if pq.filters:
            yield _metadata_filter_set(ix, docs_parquet, pq.filters)

    return _candidates(pq, exp_lists, min_should_match, _driver_docs(ix),
                       score_terms, required(),
                       (_phrase_doc_set(ix, ph) for ph in pq.not_phrases))


class _BatchScorer:
    """The one numpy BM25 scorer: every driver path and every bucket
    task of the distributed plan ranks through it.

    Built from a ``{term: (docs, tf, dl)}`` postings dict (sorted docs:
    the reader's decoded-postings LRU on the driver, a bucket's decoded
    doc range on an executor) plus the global dfs, ``n_docs`` and
    ``avgdl``. A term's two BM25 factor arrays are computed once and
    reused by every query of a batch that scores it. With a candidate
    set, only the postings inside it are weighed, so a ``+rare head``
    query never accumulates the head term's whole list.

    Bit-exactness: per posting the contribution is ``(idf*boost) * A / B``
    with A = tf*(k1+1) and B = tf + k1*(1-b+b*dl/avgdl) — the factors
    of the Column weight (``ops.core.bm25_exprs``) — added per doc in
    sorted-term order, rounded to 6 decimals and ranked (score DESC,
    doc ASC), so every path's scores are float-identical. Doc ids stay
    in posting space: translating dense ordinals is the caller's."""

    def __init__(self, posts: dict, dfs: dict, n_docs: int, avgdl: float,
                 k1: float = K1, b: float = B):
        self.posts = posts
        self.dfs = dfs
        self.n = int(n_docs)
        self.avgdl = float(avgdl)
        self.k1, self.b = k1, b
        self._factors: dict = {}

    def _ab(self, t: str) -> tuple:
        if t not in self._factors:
            k1, b = self.k1, self.b
            _d, tf, dl = self.posts[t]
            tff = tf.astype(np.float64)
            dlf = dl.astype(np.float64)
            self._factors[t] = (tff * (k1 + 1.0),
                                tff + k1 * (1.0 - b + b * dlf / self.avgdl))
        return self._factors[t]

    def score(self, terms: list[str], cand: np.ndarray | None, k: int,
              boosts: dict | None = None) -> list[tuple[int, int, float]]:
        """(rank, doc, score) top-k over ``terms`` among ``cand`` (sorted
        unique posting-space ids; None = every doc with a posting of the
        terms). ``boosts`` (term -> summed clause weight) multiplies
        each term's contribution. No rows for k <= 0."""
        live = [t for t in sorted(set(terms))
                if t in self.posts and len(self.posts[t][0])]
        if k <= 0 or not live:
            return []
        docs = (np.unique(np.concatenate([self.posts[t][0] for t in live]))
                if cand is None else cand)
        if not len(docs):
            return []
        acc = np.zeros(len(docs), dtype=np.float64)
        hit = np.zeros(len(docs), dtype=bool)
        for t in live:
            d = self.posts[t][0]
            a, bt = self._ab(t)
            idx = np.searchsorted(docs, d)
            if cand is not None:  # weigh only the postings inside cand
                idx[idx == len(docs)] = 0
                m = docs[idx] == d
                idx, a, bt = idx[m], a[m], bt[m]
                hit[idx] = True
            idf = _idf(self.n, self.dfs[t])
            if boosts is not None:
                idf *= float(boosts.get(t, 1.0))
            acc[idx] += idf * a / bt
        if cand is not None:  # (the union's docs all have a posting)
            docs, acc = docs[hit], acc[hit]
        scores = np.round(acc, 6)
        return [(i + 1, int(docs[j]), float(scores[j]))
                for i, j in enumerate(_topk_order(docs, scores, k))]


def _driver_scorer(ix: IndexReader, terms: list[str], k1: float,
                   b: float) -> "_BatchScorer":
    """A scorer over ``terms``' postings from the reader's LRU."""
    dfs = ix.term_dfs(sorted(set(terms)))
    return _BatchScorer(ix.decoded_postings(sorted(dfs)), dfs, ix.n_docs,
                        ix.avgdl, k1, b)


def _driver_score(ix: IndexReader, terms: list[str],
                  cand: np.ndarray | None, k: int, k1: float, b: float,
                  boosts: dict | None = None,
                  scorer: "_BatchScorer | None" = None
                  ) -> list[tuple[int, int, float]]:
    """Driver BM25 top-k in raw doc ids: ``scorer`` (a batch's shared
    one) or a fresh one over ``terms``, then the ordinal translation."""
    if scorer is None:
        scorer = _driver_scorer(ix, terms, k1, b)
    return _translate_rows(ix, scorer.score(terms, cand, k, boosts))


def _topk_order(docs: np.ndarray, scores: np.ndarray, k: int
                ) -> np.ndarray:
    """Indices of the top-k rows by (score DESC, doc_id ASC) — exactly
    ``np.lexsort((docs, -scores))[:k]``, but O(n) selection instead of
    a full sort: partition on the k-th score value, fully order the
    strictly-above set (< k rows), and among the threshold ties pick
    the smallest doc_ids by another partition (ties are broken by
    doc ASC, so the k-th score's tie group never needs a full sort —
    a mass-tie corpus made the lexsort the scoring hot spot). Up to a
    few hundred rows the sort is cheaper than the selection's fixed
    cost of about ten numpy calls (crossover near 700 rows at k = 10).
    No rows for k <= 0."""
    m = len(scores)
    if k <= 0:
        return np.empty(0, dtype=np.intp)
    if m <= max(k, 512):
        return np.lexsort((docs, -scores))[:k]
    thr = np.partition(scores, m - k)[m - k]
    above = scores > thr
    ia = np.flatnonzero(above)
    ia = ia[np.lexsort((docs[ia], -scores[ia]))]
    need = k - len(ia)
    if need <= 0:
        return ia[:k]
    ie = np.flatnonzero(scores == thr)
    if need < len(ie):
        part = np.argpartition(docs[ie], need - 1)[:need]
        ie = ie[part]
    ie = ie[np.argsort(docs[ie])]
    return np.concatenate([ia, ie[:need]])


def _expansion_search(ix: IndexReader, expanded: list[str], k: int,
                      k1: float, b: float
                      ) -> list[tuple[int, int, float]]:
    """Score an expansion set: driver fast path when its posting rows
    fit the budget, else the distributed exhaustive scorer (expansion
    deliberately picks the HIGHEST-df dictionary terms, so a short
    prefix on a big index is exactly the hot-union case)."""
    if not expanded:
        return []
    if _over_budget(ix, expanded):
        from .wand import bm25_indexed
        return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                for r in bm25_indexed(ix, expanded, k, k1, b).collect()]
    return _driver_score(ix, expanded, None, k, k1, b)


def more_like_this_indexed(ix: IndexReader, doc_id: int, k: int = 10,
                           max_query_terms: int = 25,
                           min_term_freq: int = 2,
                           min_doc_freq: int = 2,
                           k1: float = K1, b: float = B
                           ) -> list[tuple[int, int, float]]:
    """Index-backed More-Like-This (parity: ``ops.mlt.mlt_topk``;
    Lucene ``MoreLikeThis`` — see ops/mlt.py for the documented
    adaptation). The source document's term vector comes from ONE
    doc_id-pruned read of the durable segments checkpoint (batch +
    stream epochs — the same union ``encode_postings`` folds), term
    selection is driver-side arithmetic over the term dictionary's
    dfs, and the search is the shared expansion scorer.

    df semantics under deletes match the expansion caveat (build-time
    df = Lucene docFreq); the RESULT set always excludes tombstoned
    docs, and a tombstoned source doc still works (its vector is in
    the segments until a purge rewrites them). Direct-built indexes
    (no segments checkpoint) can't serve MLT — use the corpus op."""
    import os
    seg = f"{ix.index_dir}/segments"
    if not os.path.isdir(seg):
        raise FileNotFoundError(
            f"{seg} missing — direct-built index has no segments "
            "checkpoint; use ops.mlt.mlt_topk on the corpus instead")
    globs = [f"'{seg}/*/*.parquet'"]
    stream = f"{ix.index_dir}/segments_stream"
    if os.path.isdir(stream):
        globs.append(f"'{stream}/*/*/*.parquet'")
    rows = ix._duckdb().execute(
        f"SELECT term, sum(tf)::BIGINT AS tf FROM "
        f"read_parquet([{', '.join(globs)}]) "
        f"WHERE doc_id = ? GROUP BY term HAVING sum(tf) >= ?",
        [int(doc_id), int(min_term_freq)]).fetchall()
    if not rows:
        return []
    dfs = ix.term_dfs(sorted(t for t, _tf in rows))
    n = int(ix.n_docs)
    cand = [(-round(tf * _idf(n, dfs[t]), 6), t)
            for t, tf in rows
            if dfs.get(t, 0) >= int(min_doc_freq)]
    cand.sort()
    terms = [t for _neg, t in cand[:int(max_query_terms)]]
    if not terms:
        return []
    if _over_budget(ix, terms):
        # distributed path: exhaustive scorer minus the source doc
        from .wand import bm25_indexed
        out = bm25_indexed(ix, terms, int(k) + 1, k1, b).collect()
        kept = [(int(r["doc_id"]), float(r["score"])) for r in out
                if int(r["doc_id"]) != int(doc_id)][:int(k)]
        return [(i + 1, d, s) for i, (d, s) in enumerate(kept)]
    # candidates: the union of the terms' postings less the source doc
    src = _docids_to_postspace(ix, np.asarray([int(doc_id)], np.int64))
    cand = _candidates(ParsedQuery(), [], 0, _driver_docs(ix), terms,
                       excluded=[src])
    if cand is not None and not len(cand):
        return []
    return _driver_score(ix, terms, cand, k, k1, b)


def prefix_search(ix: IndexReader, prefix: str, k: int = 10,
                  max_expansions: int = 32,
                  k1: float = K1, b: float = B
                  ) -> list[tuple[int, int, float]]:
    """Index-backed ``prefix*`` BM25 top-k (parity:
    ``ops.termexpand.prefix_bm25_topk``)."""
    return _expansion_search(
        ix, expand_prefix_indexed(ix, prefix, max_expansions), k, k1, b)


def fuzzy_search(ix: IndexReader, term: str, max_edits: int = 1,
                 k: int = 10, prefix_len: int = 1,
                 max_expansions: int = 32,
                 k1: float = K1, b: float = B
                 ) -> list[tuple[int, int, float]]:
    """Index-backed ``term~e`` BM25 top-k (parity:
    ``ops.termexpand.fuzzy_bm25_topk``)."""
    return _expansion_search(
        ix, expand_fuzzy_indexed(ix, term, max_edits, prefix_len,
                                 max_expansions), k, k1, b)


def wildcard_search(ix: IndexReader, pattern: str, k: int = 10,
                    max_expansions: int = 32,
                    k1: float = K1, b: float = B
                    ) -> list[tuple[int, int, float]]:
    """Index-backed wildcard BM25 top-k (parity:
    ``ops.termexpand.wildcard_bm25_topk``)."""
    return _expansion_search(
        ix, expand_wildcard_indexed(ix, pattern, max_expansions),
        k, k1, b)


def regex_search(ix: IndexReader, pattern: str, k: int = 10,
                 max_expansions: int = 32,
                 k1: float = K1, b: float = B
                 ) -> list[tuple[int, int, float]]:
    """Index-backed RegexpQuery BM25 top-k (parity:
    ``ops.termexpand.regex_bm25_topk``)."""
    return _expansion_search(
        ix, expand_regex_indexed(ix, pattern, max_expansions), k, k1, b)


def _distributed_scored_src(ix: IndexReader, pq: ParsedQuery,
                            score_terms: list[str], exp_lists: list,
                            docs_parquet: str | None,
                            min_should_match: int):
    """Constrained (doc_id, term, tf, dl) posting DataFrame for the
    distributed plan — score-term postings off a term-pruned decode,
    dense ordinals translated ONCE, every clause applied as a
    broadcast/semi/anti join. Returns None when a clause is provably
    unsatisfiable (empty result). Shared by scoring top-k, hit
    counting, and sort-by-field."""
    spark = ix.spark
    from .wand import decoded_tc

    def raw_ids(df):
        """posting-space -> raw doc_id translation (docmap equi-join,
        bounded by the query's posting rows)."""
        if not ix.dense:
            return df
        return (df.withColumnRenamed("doc_id", "ord")
                .join(ix.docmap(), "ord").drop("ord"))

    if not ix.term_dfs(score_terms):
        return None
    scored_src = raw_ids(decoded_tc(ix, score_terms))
    if min_should_match:
        if min_should_match > pq.n_should_clauses:
            return None
        clauses = list(pq.should_clauses) + [(sorted(set(ts)), 1)
                                             for ts in exp_lists]
        cm_rows = [(t, cid, need)
                   for cid, (terms, need) in enumerate(clauses)
                   for t in terms]
        if not cm_rows:
            return None
        cm = rows_df(spark, cm_rows, "term string, cid int, need int")
        all_terms = sorted({r[0] for r in cm_rows})
        ok = (raw_ids(decoded_tc(ix, all_terms))
              .join(F.broadcast(cm), "term")
              .groupBy("doc_id", "cid", "need")
              .agg(F.countDistinct("term").alias("nt"))
              .where(F.col("nt") >= F.col("need"))
              .groupBy("doc_id").agg(F.count("*").alias("nc"))
              .where(F.col("nc") >= min_should_match)
              .select("doc_id"))
        scored_src = scored_src.join(ok, "doc_id", "left_semi")
    if pq.must:
        musts = sorted(set(pq.must))
        if len(ix.term_dfs(musts)) < len(musts):
            return None
        m_ids = (raw_ids(decoded_tc(ix, musts))
                 .groupBy("doc_id")
                 .agg(F.countDistinct("term").alias("nm"))
                 .where(F.col("nm") == len(musts))
                 .select("doc_id"))
        scored_src = scored_src.join(m_ids, "doc_id", "left_semi")
    for terms, _gb in pq.must_any:
        g_ids = (raw_ids(decoded_tc(ix, sorted(set(terms))))
                 .select("doc_id").distinct())
        scored_src = scored_src.join(g_ids, "doc_id", "left_semi")
    for ph in pq.phrases:
        scored_src = scored_src.join(_phrase_ids_df(ix, ph), "doc_id",
                                     "left_semi")
    for nph in pq.not_phrases:
        scored_src = scored_src.join(_phrase_ids_df(ix, nph), "doc_id",
                                     "left_anti")
    for terms, slop in pq.slop_phrases:
        scored_src = scored_src.join(_slop_ids_df(ix, terms, slop),
                                     "doc_id", "left_semi")
    if pq.filters:
        if docs_parquet is None:
            raise ValueError(
                "query has field filters; pass docs_parquet (the index "
                "stores no document metadata)")
        f_ids = (spark.read.parquet(docs_parquet)
                 .filter(filters_condition(pq.filters))
                 .select("doc_id"))
        scored_src = scored_src.join(f_ids, "doc_id", "left_semi")
    if pq.must_not:
        nots = sorted(set(pq.must_not))
        n_ids = (raw_ids(decoded_tc(ix, nots))
                 .select("doc_id").distinct())
        scored_src = scored_src.join(n_ids, "doc_id", "left_anti")
    return scored_src


def querystring_topk_distributed(ix: IndexReader, qs: str, k: int = 10,
                                 max_expansions: int = 32,
                                 docs_parquet: str | None = None,
                                 k1: float = K1, b: float = B,
                                 min_should_match: int = 0):
    """Distributed index-backed query-string execution: the same parse
    and clause algebra as the driver path, but posting lists stay a
    DataFrame end to end — the hot-query shape. Returns the ranked
    (rank, doc_id, score) DataFrame.

    Plan: score-term postings decode off a term-pruned parquet scan
    (``wand.decoded_tc``); when the index is dense the decoded stream
    joins the docmap ONCE (an equi-join bounded by the query's posting
    rows, not the corpus) so every later constraint — MUST groupBy,
    phrase ids from the sidecar, pushed-down metadata filters, MUST_NOT
    anti-join — works in raw doc_id space; one scoring aggregation, one
    TakeOrderedAndProject. Same scores/tie-breaking as every other
    path (parity-tested)."""
    pq: ParsedQuery = parse_querystring(qs, ix.profile)
    spark = ix.spark
    exp_lists = _clause_expansions(ix, pq, max_expansions)
    weights = pq.expansion_weights(exp_lists)
    score_terms = sorted(weights)
    from .wand import _rank_topk

    empty = rows_df(spark, [], "rank int, doc_id long, score double")
    stats_rows = sorted(ix.term_dfs(score_terms).items())
    if not stats_rows:
        return empty
    if _bucketable(pq):
        # term-algebra query: the doc-range-bucketed block plan (one
        # movement of compressed blocks, numpy clause algebra per
        # bucket) replaces the exhaustive decode-and-aggregate plan
        rows = _bucketed_batch_topk(ix, {"q": pq}, {"q": exp_lists},
                                    k, k1, b, min_should_match)
        return rows_df(spark, [(r, d, s) for _q, r, d, s in rows],
                       "rank int, doc_id long, score double")
    stats = rows_df(spark, stats_rows, "term string, df long")
    scored_src = _distributed_scored_src(
        ix, pq, score_terms, exp_lists, docs_parquet, min_should_match)
    if scored_src is None:
        return empty

    idf, tf_part = _bm25_columns(ix, k1, b)
    boosts_df = rows_df(spark, sorted(weights.items()),
                        "term string, boost double")
    scored = (scored_src.join(F.broadcast(stats), "term")
              .join(F.broadcast(boosts_df), "term")
              .groupBy("doc_id")
              .agg(F.round(F.sum(F.col("boost") * idf * tf_part), 6)
                   .alias("score")))
    return _rank_topk(scored, k)


# Batch driver-path budget: total decoded posting rows the batch may
# hold on the driver (one decode per DISTINCT term, amortized over the
# whole query set). 64M rows x ~24 B/row ≈ 1.5 GB — modest for a
# serving coordinator; a web-scale union (one 10^9-row mega-term)
# exceeds it and routes to the distributed plan.
BATCH_DRIVER_MAX_ROWS = 64_000_000

# Batch driver-path WORK budget: the driver path's per-query cost is
# O(candidate-union size) of vectorized numpy (accumulator fill + adds
# + top-k), SERIAL across queries — so a batch's driver cost scales as
# n_queries x union. Past ~1e8 row-visits (~seconds of single-core
# numpy) the doc-range-BUCKETED distributed plan wins even in local
# mode (measured at 2M docs x 200 queries: driver 16.6 s vs bucketed
# 5.1 s); the crossover is serial-numpy throughput vs one distributed
# job's latency, not a property of this sandbox's core count.
BATCH_DRIVER_MAX_WORK = 100_000_000


def _bucketable(pq: ParsedQuery) -> bool:
    """True when every clause of the query is term-SET algebra
    (score/boost, MUST, groups, MUST_NOT, msm) — no positional clauses
    and no metadata filters — so the doc-range-bucketed distributed
    plan can evaluate it from posting blocks alone."""
    return not (pq.phrases or pq.not_phrases or pq.slop_phrases
                or pq.filters)


def _bucketed_batch_topk(ix: IndexReader, parsed_sub: dict,
                         exp_by_q: dict, k: int, k1: float, b: float,
                         min_should_match: int,
                         n_buckets: int = 64) -> list[tuple]:
    """Over-budget distributed plan for term-algebra queries: the
    block-max layout of ``wand_topk`` applied to a whole query SET.

    The score-once-then-constrain plan fanned DECODED posting rows out
    per query (queries x postings rows through one shuffle + a
    corpus-sized aggregation). Here the COMPRESSED posting blocks of
    the union of every query's terms are routed once by doc-range
    bucket — the only payload that moves is the delta+varint blocks,
    exactly the index-build's membw discipline — the query set rides a
    broadcast, and each bucket task runs the driver path's own
    posting-set algebra and scorer (``_candidates`` and
    ``_BatchScorer``, so scores are float-identical to the fast path)
    on its doc range in numpy.
    Per-(query, bucket) top-k lists then merge to exact global
    per-query top-k: every clause is a per-doc predicate and BM25 uses
    global broadcast stats, so restriction to a doc range commutes
    with the whole pipeline.

    Returns the final (query_id, rank, doc_id, score) rows (raw doc
    ids — ords already translated)."""
    import pandas as pd

    from . import codec
    from .delete import keep_mask

    queries = []
    terms: set = set()
    for qid, pq in sorted(parsed_sub.items()):
        w = pq.expansion_weights(exp_by_q[qid])
        queries.append((qid, pq, exp_by_q[qid], w))
        terms |= set(w) | set(pq.literal_score_terms) | set(pq.must_not)
    dfs = {t: d for t, d in ix.term_dfs(sorted(terms)).items() if d > 0}
    if not dfs:
        return []
    n_docs, avgdl = int(ix.n_docs), float(ix.avgdl)

    post = ix.term_postings(sorted(dfs))
    dense = ix.dense
    assert n_buckets >= 2 and n_buckets & (n_buckets - 1) == 0
    shift = 64 - n_buckets.bit_length() + 1
    if dense:
        span = max(1, -(-n_docs // n_buckets))
        b1c = F.floor(F.col("b.first_doc") / span).cast("long").alias("b1")
        b2c = F.floor(F.col("b.last_doc") / span).cast("long").alias("b2")
    else:
        sign = F.lit(-(1 << 63)).cast("long")
        b1c = F.shiftrightunsigned(
            F.col("b.first_doc").bitwiseXOR(sign), shift).alias("b1")
        b2c = F.shiftrightunsigned(
            F.col("b.last_doc").bitwiseXOR(sign), shift).alias("b2")
    blocks = post.select("term", F.explode("blocks").alias("b")).select(
        "term", "b.*", b1c, b2c)
    bucketed = (blocks
                .withColumn("bucket", F.explode(F.sequence("b1", "b2")))
                .drop("b1", "b2"))
    tombs = ix.tombstones()
    tb = ix.spark.sparkContext.broadcast(tombs) if tombs.size else None
    sp = ix.spark.sparkContext.broadcast((queries, dfs))
    u64_max = np.uint64(0xFFFFFFFFFFFFFFFF)

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # the executor's own scorer, looked up by module name
        from .serving import _BatchScorer
        queries_b, dfs_b = sp.value
        if dense:
            bkt = int(pdf["bucket"].iloc[0])
            lo = bkt * span
            hi = lo + span - 1
        else:
            bkt = np.uint64(pdf["bucket"].iloc[0])
            lo = codec.from_u64(
                np.array([bkt << np.uint64(shift)], np.uint64))[0]
            hi_u = (bkt << np.uint64(shift)) | \
                (u64_max >> np.uint64(64 - shift))
            hi = codec.from_u64(np.array([hi_u], np.uint64))[0]
        # decode every term's blocks within the range once, shared by
        # all queries (fragments may interleave doc ranges: sort)
        posts: dict = {}
        for t, g in pdf.groupby("term", sort=True):
            parts = []
            for j in range(len(g)):
                d, tf, dl = codec.decode_block(g.iloc[j])
                m = (d >= lo) & (d <= hi)
                if tb is not None:
                    m &= keep_mask(d, tb.value)
                if m.any():
                    parts.append((d[m], tf[m], dl[m]))
            if parts:
                d, tf, dl = (np.concatenate(c) for c in zip(*parts))
                order = np.argsort(d, kind="mergesort")
                posts[t] = (d[order], tf[order], dl[order])
        scorer = _BatchScorer(posts, dfs_b, n_docs, avgdl, k1, b)

        def docs_of(terms):
            return [posts[t][0] for t in terms if t in posts]

        out = []
        for qid, pq, exp_lists, w in queries_b:
            cand = _candidates(pq, exp_lists, min_should_match, docs_of,
                               sorted(w))
            if cand is None or len(cand):
                out += [(qid, d, s) for _r, d, s in
                        scorer.score(sorted(w), cand, k, w)]
        return pd.DataFrame({
            "query_id": pd.Series([q for q, _d, _s in out], dtype="object"),
            "doc_id": pd.Series([d for _q, d, _s in out], dtype="int64"),
            "score": pd.Series([s for _q, _d, s in out], dtype="float64")})

    local = bucketed.groupBy("bucket").applyInPandas(
        run_bucket, "query_id string, doc_id long, score double")
    # per-(query, bucket) lists are tiny (<= n_buckets * |Q| * k rows);
    # merge on the driver like wand_topk does, then translate ords
    rows = local.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    out: list[tuple] = []
    for qid in sorted(by_q):
        lst = sorted(by_q[qid], key=lambda r: (-r[1], r[0]))[:max(k, 0)]
        ranked = _translate_rows(ix, [(i + 1, int(d), float(s))
                                      for i, (d, s) in enumerate(lst)])
        out += [(qid, r, d, s) for r, d, s in ranked]
    return out


def querystring_topk_batch(ix: IndexReader, queries: dict,
                           k: int = 10, max_expansions: int = 32,
                           docs_parquet: str | None = None,
                           k1: float = K1, b: float = B,
                           min_should_match: int = 0) -> "DataFrame":
    """(query_id, rank, doc_id, score): execute EVERY query string in
    ONE Spark job — the full grammar (boosts, MUST/MUST_NOT, phrases +
    negated phrases, filters + ranges, prefix/fuzzy expansion, msm)
    per query.

    The training-pipeline shape: a nightly eval or a mining job issues
    thousands of query strings; paying scan + decode + job latency per
    query is the anti-pattern. Here the union of all queries' score
    terms is decoded ONCE (term-pruned scan), a broadcast
    (query_id, term, boost) map fans postings to their queries, every
    clause type applies as ONE batched join over (query_id, doc_id)
    pairs — per-query needs ride tiny broadcast tables so queries
    without a clause pass untouched — and a single aggregation + one
    per-query window ranks everything. Phrase clauses decode the
    positional sidecar once for the union of all phrase terms.

    Per-query results are row-identical to
    ``querystring_search_indexed`` (parity-tested). Queries with no
    indexed score terms yield no rows. ``min_should_match`` applies to
    every query in the batch."""
    from .wand import decoded_tc

    spark = ix.spark
    parsed = {qid: parse_querystring(queries[qid], ix.profile)
              for qid in sorted(queries)}
    exp_by_q = {qid: _clause_expansions(ix, pq, max_expansions)
                for qid, pq in parsed.items()}
    weights = {}
    for qid, pq in parsed.items():
        for t, w in pq.expansion_weights(exp_by_q[qid]).items():
            weights[(qid, t)] = w
    all_terms = sorted({t for _q, t in weights})
    dfs = {t: d for t, d in ix.term_dfs(all_terms).items() if d > 0}
    qt_rows = [(qid, t, w) for (qid, t), w in sorted(weights.items())
               if t in dfs]
    empty = rows_df(spark, [],
                    "query_id string, rank int, doc_id long, score double")
    if not qt_rows:
        return empty

    # ---- batch driver fast path (round 5) ----
    # The batch decodes each DISTINCT term once, so the routing unit is
    # the whole batch's working set, not a single query's: when the
    # union of all score + MUST_NOT posting rows fits the batch driver
    # budget, warm the decoded-postings LRU with ONE term-pruned point
    # read and answer every query with the same numpy posting-set
    # algebra the single-query driver path uses (shared body — results
    # can never diverge). 200 hot 2-term queries then cost one decode
    # plus ~milliseconds of vectorized set ops each, instead of fanning
    # queries x postings through a corpus-sized shuffle. Past the
    # budget (a web-scale mega-term union), the distributed plan below
    # is the honest shape.
    not_terms = sorted({t for pq in parsed.values()
                        for t in set(pq.must_not)} - set(dfs))
    union_rows = sum(dfs.values()) + \
        sum(ix.term_dfs(not_terms).values() if not_terms else [])
    driver_work = len(queries) * min(union_rows, int(ix.n_docs))
    if (union_rows <= BATCH_DRIVER_MAX_ROWS
            and driver_work <= BATCH_DRIVER_MAX_WORK):
        old_budget = ix.POSTINGS_CACHE_MAX_ROWS
        ix.POSTINGS_CACHE_MAX_ROWS = max(old_budget, union_rows + 1)
        try:
            # one term-pruned read warms the LRU; the shared scorer
            # amortizes per-term factor arrays over every query in the
            # batch
            bs = _driver_scorer(ix, sorted(dfs), k1, b)
            rows = []
            for qid in sorted(queries):
                pq = parsed[qid]
                w = pq.expansion_weights(exp_by_q[qid])
                out = _querystring_driver(
                    ix, pq, exp_by_q[qid], w, sorted(w), k,
                    docs_parquet, k1, b, min_should_match, scorer=bs)
                rows += [(qid, int(r), int(d), float(s))
                         for r, d, s in out]
        finally:
            ix.POSTINGS_CACHE_MAX_ROWS = old_budget
        if not rows:
            return empty
        return rows_df(
            spark, rows, "query_id string, rank int, doc_id long, score double")

    # ---- over-budget distributed routing: term-algebra queries take
    # the doc-range-BUCKETED plan (compressed blocks move once, the
    # query set rides a broadcast — see _bucketed_batch_topk); only
    # queries with positional or metadata clauses stay on the fanned
    # score-once-then-constrain plan below ----
    buckq = {qid: pq for qid, pq in parsed.items() if _bucketable(pq)}
    restq = {qid: pq for qid, pq in parsed.items() if qid not in buckq}
    bucket_rows = (_bucketed_batch_topk(ix, buckq, exp_by_q, k, k1, b,
                                        min_should_match)
                   if buckq else [])
    bucket_df = rows_df(
        spark, bucket_rows,
        "query_id string, rank int, doc_id long, score double")
    if not restq:
        return bucket_df
    parsed = restq
    weights = {kk: v for kk, v in weights.items() if kk[0] in restq}
    rest_terms = sorted({t for _q, t in weights})
    dfs = {t: d for t, d in ix.term_dfs(rest_terms).items() if d > 0}
    qt_rows = [(qid, t, w) for (qid, t), w in sorted(weights.items())
               if t in dfs]
    if not qt_rows:
        return bucket_df if buckq else empty

    qt = F.broadcast(rows_df(
        spark, qt_rows, "query_id string, term string, boost double"))
    stats = F.broadcast(rows_df(spark, sorted(dfs.items()),
                                "term string, df long"))

    def raw_ids(df):
        if not ix.dense:
            return df
        return (df.withColumnRenamed("doc_id", "ord")
                .join(ix.docmap(), "ord").drop("ord"))

    # MUST / group / msm clause terms all SCORE, so their (query_id,
    # term, doc_id) presence facts are already rows of ``fan`` — every
    # constraint joins the fanned stream instead of re-decoding
    # postings. (A persist() of the decoded stream and of the fan were
    # both A/B'd at 2M docs and did not beat recomputation — the
    # decode is ~4% of the job; the fanned aggregation dominates.)
    fan = raw_ids(decoded_tc(ix, sorted(dfs))).join(qt, "term")
    keys = ["query_id", "doc_id"]

    # Score-once-then-constrain (round-5 batch replan): the old plan
    # materialized cand = fan.distinct() (a full shuffle of the fanned
    # stream), semi-joined fan back against it (a second full
    # shuffle), and only then aggregated. Constraint predicates never
    # change a surviving doc's score (BM25 uses full-corpus stats), so
    # aggregate FIRST — one map-side-combined shuffle over the fan —
    # and apply every constraint to the (query_id, doc_id, score)
    # table, whose right-hand sides are clause-bounded. 2 of 3
    # corpus-sized shuffles gone.
    idf, tf_part = _bm25_columns(ix, k1, b)
    score_agg = F.round(F.sum(F.col("boost") * idf * tf_part), 6) \
        .alias("score")
    cols = ["query_id", "doc_id", "score"]
    cand = fan.join(stats, "term").groupBy(*keys).agg(score_agg)

    if min_should_match:
        cm_rows = []
        for qid, pq in parsed.items():
            clauses = list(pq.should_clauses) + \
                [(sorted(set(ts)), 1) for ts in exp_by_q[qid]]
            for cid, (terms, need) in enumerate(clauses):
                cm_rows += [(qid, cid, t, need) for t in terms]
        if not cm_rows:
            return empty
        cm = F.broadcast(rows_df(
            spark, cm_rows, "query_id string, cid int, term string, need int"))
        ok = (fan.join(cm, ["query_id", "term"])
              .groupBy("query_id", "cid", "need", "doc_id")
              .agg(F.countDistinct("term").alias("nt"))
              .where(F.col("nt") >= F.col("need"))
              .groupBy(*keys).agg(F.count("*").alias("nc"))
              .where(F.col("nc") >= min_should_match)
              .select(*keys))
        cand = cand.join(ok, keys, "left_semi")

    must_rows = [(qid, t) for qid, pq in parsed.items()
                 for t in sorted(set(pq.must))]
    if must_rows:
        mm = F.broadcast(rows_df(spark, must_rows,
                                 "query_id string, term string"))
        n_must = F.broadcast(rows_df(
            spark, [(qid, len(set(pq.must))) for qid, pq in parsed.items()],
            "query_id string, n_must int"))
        m_ok = (fan.join(mm, ["query_id", "term"])
                .groupBy(*keys)
                .agg(F.countDistinct("term").alias("nm")))
        cand = (cand.join(m_ok, keys, "left")
                .join(n_must, "query_id")
                .where((F.col("n_must") == 0)
                       | (F.col("nm") == F.col("n_must")))
                .select(*cols))

    ma_rows = [(qid, gid, t)
               for qid, pq in parsed.items()
               for gid, (terms, _gb) in enumerate(pq.must_any)
               for t in sorted(set(terms))]
    if ma_rows:
        gm = F.broadcast(rows_df(spark, ma_rows,
                                 "query_id string, gid int, term string"))
        n_ma = F.broadcast(rows_df(
            spark, [(qid, len(pq.must_any)) for qid, pq in parsed.items()],
            "query_id string, n_ma int"))
        ma_ok = (fan.join(gm, ["query_id", "term"])
                 .select("query_id", "gid", "doc_id").distinct()
                 .groupBy(*keys)
                 .agg(F.countDistinct("gid").alias("ng")))
        cand = (cand.join(ma_ok, keys, "left")
                .join(n_ma, "query_id")
                .where((F.col("n_ma") == 0)
                       | (F.col("ng") == F.col("n_ma")))
                .select(*cols))

    ph_specs = [(qid, pid, ph)
                for qid, pq in parsed.items()
                for pid, ph in enumerate(pq.phrases)]
    nph_specs = [(qid, pid, ph)
                 for qid, pq in parsed.items()
                 for pid, ph in enumerate(pq.not_phrases)]

    def _phrase_pairs(specs):
        """distinct (query_id, pid, doc_id) matching each phrase spec,
        off ONE positional-sidecar read of the union of all terms."""
        from .positions import term_positions
        union_terms = sorted({t for _q, _p, ph in specs for t in ph})
        pm = F.broadcast(rows_df(
            spark, [(qid, pid, t, off)
                    for qid, pid, ph in specs for off, t in enumerate(ph)],
            "query_id string, pid int, term string, off int"))
        plens = F.broadcast(rows_df(
            spark, [(qid, pid, len(ph)) for qid, pid, ph in specs],
            "query_id string, pid int, n int"))
        pos = term_positions(spark, ix.index_dir, union_terms)
        hits = (pos.join(pm, "term")
                .select("query_id", "pid", "doc_id",
                        (F.col("pos") - F.col("off")).alias("start"),
                        "off"))
        return (hits.groupBy("query_id", "pid", "doc_id", "start")
                .agg(F.countDistinct("off").alias("n_off"))
                .join(plens, ["query_id", "pid"])
                .where(F.col("n_off") == F.col("n"))
                .select("query_id", "pid", "doc_id").distinct())

    if ph_specs:
        n_ph = F.broadcast(rows_df(
            spark, [(qid, len(pq.phrases)) for qid, pq in parsed.items()],
            "query_id string, n_ph int"))
        ph_ok = (_phrase_pairs(ph_specs)
                 .groupBy(*keys)
                 .agg(F.countDistinct("pid").alias("np")))
        cand = (cand.join(ph_ok, keys, "left")
                .join(n_ph, "query_id")
                .where((F.col("n_ph") == 0)
                       | (F.col("np") == F.col("n_ph")))
                .select(*cols))
    if nph_specs:
        cand = cand.join(_phrase_pairs(nph_specs).select(*keys),
                         keys, "left_anti")

    sp_specs = [(qid, sid, terms, slop)
                for qid, pq in parsed.items()
                for sid, (terms, slop) in enumerate(pq.slop_phrases)]
    if sp_specs:
        # identical (terms, slop) clauses across queries share ONE
        # sidecar match computation; the tiny (query_id, sid) tag set
        # re-fans the shared ids
        uniq_sp: dict = {}
        for qid, sid, terms, slop in sp_specs:
            uniq_sp.setdefault((tuple(terms), slop), []).append((qid, sid))
        sp_parts = []
        for (terms_t, slop), pairs in sorted(uniq_sp.items()):
            tag = F.broadcast(rows_df(spark, sorted(pairs),
                                      "query_id string, sid int"))
            sp_parts.append(
                _slop_ids_df(ix, list(terms_t), slop).crossJoin(tag)
                .select("query_id", "sid", "doc_id"))
        sp_pairs = sp_parts[0]
        for p in sp_parts[1:]:
            sp_pairs = sp_pairs.unionByName(p)
        n_sp = F.broadcast(rows_df(
            spark, [(qid, len(pq.slop_phrases)) for qid, pq in parsed.items()],
            "query_id string, n_sp int"))
        sp_ok = (sp_pairs.groupBy(*keys)
                 .agg(F.countDistinct("sid").alias("ns")))
        cand = (cand.join(sp_ok, keys, "left")
                .join(n_sp, "query_id")
                .where((F.col("n_sp") == 0)
                       | (F.col("ns") == F.col("n_sp")))
                .select(*cols))

    f_qids = [qid for qid, pq in parsed.items() if pq.filters]
    if f_qids:
        if docs_parquet is None:
            raise ValueError(
                "a query has field filters; pass docs_parquet (the "
                "index stores no document metadata)")
        docs_df = spark.read.parquet(docs_parquet)
        # identical predicates across queries share ONE pushdown scan
        # (grouped by the canonical predicate TEXT; applied as a typed
        # Column so no user text reaches the Spark SQL parser)
        uniq_f: dict = {}
        for q in f_qids:
            uniq_f.setdefault(
                filters_predicate(parsed[q].filters), []).append(q)
        parts = []
        for pred, qids in sorted(uniq_f.items()):
            tag = F.broadcast(rows_df(spark, [(q,) for q in sorted(qids)],
                                      "query_id string"))
            cond = filters_condition(parsed[qids[0]].filters)
            parts.append(docs_df.filter(cond).select("doc_id")
                         .crossJoin(tag)
                         .select("query_id", "doc_id"))
        f_ok = parts[0]
        for p in parts[1:]:
            f_ok = f_ok.unionByName(p)
        has_f = F.broadcast(rows_df(
            spark, [(qid, int(bool(pq.filters)))
                    for qid, pq in parsed.items()],
            "query_id string, has_f int"))
        cand = (cand.join(f_ok.withColumn("f_hit", F.lit(1)), keys,
                          "left")
                .join(has_f, "query_id")
                .where((F.col("has_f") == 0) | F.col("f_hit").isNotNull())
                .select(*cols))

    not_rows = [(qid, t) for qid, pq in parsed.items()
                for t in sorted(set(pq.must_not))]
    if not_rows:
        nn = F.broadcast(rows_df(spark, not_rows,
                                 "query_id string, term string"))
        n_terms = sorted({t for _q, t in not_rows})
        n_pairs = (raw_ids(decoded_tc(ix, n_terms)).join(nn, "term")
                   .select(*keys).distinct())
        cand = cand.join(n_pairs, keys, "left_anti")

    # Salted two-phase per-query top-k: a single
    # Window.partitionBy(query_id) sorts EVERY (query, doc) score in
    # one task per query — a corpus-sized sort for hot queries. Phase 1
    # takes top-k inside (query_id, doc-hash salt) sub-partitions
    # (parallel, partial — like map-side TakeOrdered); the true top-k
    # is a subset of the <= 32k survivors, so the final per-query
    # window sorts a trivial set. Exact, tie-breaks included.
    order = [F.desc("score"), F.asc("doc_id")]
    w1 = Window.partitionBy("query_id", "salt").orderBy(*order)
    pre = (cand.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(32)).cast("int"))
        .withColumn("r", F.row_number().over(w1))
        .where(F.col("r") <= int(k)).drop("salt", "r"))
    w = Window.partitionBy("query_id").orderBy(*order)
    fan_out = (pre.withColumn("rank", F.row_number().over(w).cast("int"))
               .filter(F.col("rank") <= int(k))
               .select("query_id", "rank", "doc_id", "score"))
    return fan_out.unionByName(bucket_df) if buckq else fan_out


def querystring_search_indexed(ix: IndexReader, qs: str, k: int = 10,
                               max_expansions: int = 32,
                               docs_parquet: str | None = None,
                               k1: float = K1, b: float = B,
                               min_should_match: int = 0
                               ) -> list[tuple[int, int, float]]:
    """Execute a Lucene-lite query string against the index: the same
    parse as ``ops.querylang`` (one grammar, two engines), compiled to
    dictionary expansion + posting-set algebra + positional phrase
    matching + a metadata filter set. ``docs_parquet`` is required only
    when the query has ``field:value`` clauses (the index stores no
    metadata — like Lucene, filters consult stored fields).

    Row-for-row parity with ``ops.querylang.querystring_topk`` is
    asserted in tests; both share the oracle SQL
    ``ops.querylang.querystring_sql``.

    Routing: like ``wand.search``, the driver answers queries whose
    clause posting lists fit the fast-path budget; hotter queries run
    on the distributed plan (``querystring_topk_distributed``) and
    collect its <= k rows — identical results either way
    (parity-tested)."""
    pq: ParsedQuery = parse_querystring(qs, ix.profile)
    exp_lists = _clause_expansions(ix, pq, max_expansions)
    weights = pq.expansion_weights(exp_lists)
    score_terms = sorted(weights)

    if _route_distributed(ix, pq, score_terms, docs_parquet):
        df = querystring_topk_distributed(
            ix, qs, k, max_expansions, docs_parquet, k1, b,
            min_should_match)
        return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                for r in df.collect()]
    return _querystring_driver(ix, pq, exp_lists, weights, score_terms,
                               k, docs_parquet, k1, b, min_should_match)


def _querystring_driver(ix: IndexReader, pq: ParsedQuery,
                        exp_lists: list, weights: dict,
                        score_terms: list, k: int,
                        docs_parquet: str | None, k1: float, b: float,
                        min_should_match: int,
                        scorer: "_BatchScorer | None" = None
                        ) -> list[tuple[int, int, float]]:
    """The driver fast-path body of ``querystring_search_indexed``
    (posting-set algebra on the decoded-postings LRU) — shared verbatim
    by the single-query front door and the batched driver path, so the
    two can never diverge. ``scorer`` is the batch's shared one."""
    cand = _driver_candidates(ix, pq, exp_lists, score_terms, docs_parquet,
                              min_should_match)
    if cand is not None and not len(cand):
        return []
    return _driver_score(ix, score_terms, cand, k, k1, b, weights, scorer)


def _match_set(ix: IndexReader, pq: ParsedQuery, score_terms: list[str],
               exp_lists: list, docs_parquet: str | None,
               min_should_match: int) -> np.ndarray:
    """Posting-space candidate doc set for a parsed query, fully
    materialized on the driver: the union of score-term postings
    narrowed by ``_candidates``. The driver twin of
    ``_distributed_scored_src`` for the counting/sorting collectors."""
    arrs = _driver_docs(ix)(score_terms)
    if not arrs:
        return np.empty(0, dtype=np.int64)
    union = np.unique(np.concatenate(arrs))
    cand = _driver_candidates(ix, pq, exp_lists, score_terms, docs_parquet,
                              min_should_match)
    return union if cand is None else \
        np.intersect1d(union, cand, assume_unique=True)


def querystring_count_indexed(ix: IndexReader, qs: str,
                              max_expansions: int = 32,
                              docs_parquet: str | None = None,
                              min_should_match: int = 0) -> int:
    """Total hit count for a query string — Lucene's
    TotalHitCountCollector, index-backed. Same candidate semantics as
    ``querystring_search_indexed``; no scoring work at all. Routing:
    posting-set algebra on the driver within the fast-path budget, a
    distinct-count over the distributed constrained plan past it.
    Parity: ``ops.querylang.querystring_count``."""
    pq: ParsedQuery = parse_querystring(qs, ix.profile)
    exp_lists = _clause_expansions(ix, pq, max_expansions)
    score_terms = sorted(pq.expansion_weights(exp_lists))
    if _route_distributed(ix, pq, score_terms, docs_parquet):
        src = _distributed_scored_src(
            ix, pq, score_terms, exp_lists, docs_parquet,
            min_should_match)
        return 0 if src is None else \
            src.select("doc_id").distinct().count()
    return int(len(_match_set(ix, pq, score_terms, exp_lists,
                              docs_parquet, min_should_match)))


def querystring_sort_indexed(ix: IndexReader, qs: str,
                             sort_field: str = "n_chars",
                             ascending: bool = False, k: int = 10,
                             max_expansions: int = 32,
                             docs_parquet: str | None = None,
                             min_should_match: int = 0
                             ) -> list[tuple]:
    """Top-k query matches ordered by a stored metadata field — Lucene
    Sort(SortField) with the documents parquet playing the doc-values
    role. Returns (rank, doc_id[, value]) rows; parity:
    ``ops.querylang.querystring_sort_topk``. Driver path: match set
    from posting algebra, then a numpy sort for ``doc_id`` or ONE
    DuckDB point-join against the documents parquet ordered + limited
    at the source. Hot queries run the distributed constrained plan
    and sort in Spark."""
    from ..ops.querylang import FILTER_FIELDS
    if sort_field not in FILTER_FIELDS:
        raise ValueError(f"unknown sort field {sort_field!r} "
                         f"(allowed: {FILTER_FIELDS})")
    if sort_field != "doc_id" and docs_parquet is None:
        raise ValueError("sorting on a metadata field needs "
                         "docs_parquet (the index stores no metadata)")
    pq: ParsedQuery = parse_querystring(qs, ix.profile)
    exp_lists = _clause_expansions(ix, pq, max_expansions)
    score_terms = sorted(pq.expansion_weights(exp_lists))
    dir_ = "ASC" if ascending else "DESC"
    if _route_distributed(ix, pq, score_terms, docs_parquet):
        src = _distributed_scored_src(
            ix, pq, score_terms, exp_lists, docs_parquet,
            min_should_match)
        if src is None:
            return []
        cand = src.select("doc_id").distinct()
        order = [F.asc(sort_field) if ascending else F.desc(sort_field),
                 F.asc("doc_id")]
        if sort_field != "doc_id":
            cand = cand.join(ix.spark.read.parquet(docs_parquet)
                             .select("doc_id", sort_field), "doc_id")
        rows = cand.orderBy(*order).limit(int(k)).collect()
        if sort_field == "doc_id":
            return [(i + 1, int(r.doc_id)) for i, r in enumerate(rows)]
        return [(i + 1, int(r.doc_id), r[sort_field])
                for i, r in enumerate(rows)]
    cand = _match_set(ix, pq, score_terms, exp_lists, docs_parquet,
                      min_should_match)
    if not len(cand):
        return []
    if ix.dense:
        cand = ix.resolve_ords(cand)
    if sort_field == "doc_id":
        ids = np.sort(cand)
        ids = ids[:int(k)] if ascending else ids[::-1][:int(k)]
        return [(i + 1, int(d)) for i, d in enumerate(ids)]
    import pandas as pd
    con = ix._duckdb()
    con.register("_sort_ids", pd.DataFrame({"doc_id": cand}))
    rows = con.execute(
        f"SELECT d.doc_id, d.{sort_field} FROM _sort_ids c "
        f"JOIN read_parquet('{docs_parquet}') d USING (doc_id) "
        f"ORDER BY d.{sort_field} {dir_}, d.doc_id ASC "
        f"LIMIT {int(k)}").fetchall()
    con.unregister("_sort_ids")
    return [(i + 1, int(r[0]), r[1]) for i, r in enumerate(rows)]


def facet_counts_indexed(ix: IndexReader, query_terms: list[str],
                         facet_col: str, docs_parquet: str,
                         topn: int = 10) -> list[tuple[str, int]]:
    """(facet, n_docs) over the query's full match set, from the index:
    the match set is the union of the query terms' postings (tombstones
    already applied by the LRU), translated to raw doc_ids when dense,
    then one DuckDB group-by against the documents parquet — Lucene's
    FacetsCollector, with stored fields playing the doc-values role.
    Parity: ``ops.fielded.facet_counts`` (same ordering: n_docs DESC,
    facet ASC). Hot query terms (posting rows past the driver budget)
    take the distributed plan: match set from ``decoded_tc``, docmap
    translation, one facet aggregation."""
    import pandas as pd
    dfs = ix.term_dfs(sorted(set(query_terms)))
    if not dfs:
        return []
    if _over_budget(ix, sorted(dfs)):
        from .wand import decoded_tc
        matched = decoded_tc(ix, sorted(dfs)).select("doc_id").distinct()
        if ix.dense:
            matched = (matched.withColumnRenamed("doc_id", "ord")
                       .join(ix.docmap(), "ord").drop("ord"))
        docs_meta = ix.spark.read.parquet(docs_parquet).select(
            "doc_id", facet_col)
        rows = (matched.join(docs_meta, "doc_id")
                .groupBy(F.col(facet_col).alias("facet"))
                .agg(F.count("*").alias("n_docs"))
                .orderBy(F.desc("n_docs"), F.asc("facet"))
                .limit(int(topn)).collect())
        return [(r.facet, int(r.n_docs)) for r in rows]
    posts = ix.decoded_postings(sorted(dfs))
    arrs = [posts[t][0] for t in sorted(dfs) if len(posts[t][0])]
    if not arrs:
        return []
    matched = np.unique(np.concatenate(arrs))
    if ix.dense:
        matched = ix.resolve_ords(matched)
    con = ix._duckdb()
    con.register("_facet_ids", pd.DataFrame({"doc_id": matched}))
    rows = con.execute(
        f"SELECT d.{facet_col}, count(*) FROM _facet_ids "
        f"JOIN read_parquet('{docs_parquet}') d USING (doc_id) "
        f"GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT {int(topn)}"
    ).fetchall()
    con.unregister("_facet_ids")
    return [(f, int(n)) for f, n in rows]


# ------------------------------------------------------------- snippets

def snippet_search(ix: IndexReader, query_terms: list[str], k: int = 10,
                   width: int = 20, k1: float = K1, b: float = B
                   ) -> list[tuple[int, int, float, int, int, int]]:
    """(rank, doc_id, score, win_start, win_end, n_terms): BM25 top-k
    with the best ``width``-token highlight window per hit, from the
    positional sidecar — the stored text is never read. Window
    semantics identical to ``ops.snippets.snippet_windows`` (max
    distinct query terms, earliest start; windows anchor at match
    positions), parity-tested row-for-row."""
    from .wand import search
    top = search(ix, query_terms, k, k1, b)
    if not top:
        return []
    ids = [d for _, d, _ in top]
    # doc-bounded decode: blocks outside the k hit docs are skipped
    # inside the UDF (a .where() above mapInPandas cannot push through
    # it, and would decode a hot term's full corpus-wide positions)
    rows = term_positions(ix.spark, ix.index_dir,
                          list(set(query_terms)), doc_ids=ids).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(int(r.doc_id), []).append((int(r.pos), r.term))
    out = []
    for rank, doc_id, score in top:
        matches = sorted(by_doc.get(int(doc_id), []))
        if not matches:
            continue  # unreachable: a top-k doc contains >=1 query term
        positions = np.asarray([p for p, _ in matches], dtype=np.int64)
        best = (-1, 0)  # (n_terms, -win_start) maximized
        for a in sorted(set(int(p) for p in positions)):
            in_win = [t for p, t in matches if a <= p < a + width]
            n_terms = len(set(in_win))
            if n_terms > best[0]:
                best = (n_terms, a)
        n_terms, start = best
        out.append((rank, int(doc_id), float(score), int(start),
                    int(start + width - 1), int(n_terms)))
    return out
