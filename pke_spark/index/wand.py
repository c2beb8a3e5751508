"""Query-time BM25 over the compressed index: the term-query entry
points (``search``, ``boolean_search``, ``wand_topk``,
``bm25_topk_batch``) and the distributed scorers behind them. Every
path is score-EXACT (identical to the exhaustive DataFrame scorer
ops/core.bm25_topk — asserted in tests).

- **driver**: a query (or batch) whose posting rows fit the fast-path
  budget is answered from the reader's decoded-postings LRU by the one
  numpy scorer, ``serving._BatchScorer``; boolean clauses narrow the
  candidates through ``serving._candidates`` first.

- ``bm25_indexed``: decode postings of the query terms (doc lengths are
  embedded in the blocks, so no doc-stats join), pure-DataFrame scoring
  with the one Column weight (``ops.core.bm25_exprs``). Plan:
  term-pruned parquet scan -> mapInPandas decode -> hash agg on
  doc_id -> TakeOrderedAndProject global top-k.

- ``wand_topk``: Block-Max pruned top-k. Query-term blocks are
  range-partitioned over the docID space into buckets (a block
  overlapping two buckets goes to both and is clipped at decode), then
  each bucket runs a block-max term-at-a-time scorer in numpy:
  terms processed in descending upper-bound order; blocks whose
  block-max upper bound plus the remaining terms' upper bounds cannot
  beat the bucket's current k-th best score are never decoded;
  accumulated docs that provably cannot reach the k-th best are dropped.
  Per-bucket exact top-k, then one global TakeOrderedAndProject merge.
  OR-semantics BM25; pruning only discards provably-losing work, so the
  result is exact (a safety epsilon protects the 6-decimal rounding of
  final scores).

Block upper bound: tf_part(tf, dl) = tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))
is increasing in tf and decreasing in dl, so
ub = idf · max_tf(k1+1)/(max_tf + k1(1-b)) (dl->0 limit) is valid.

At 10^12 scale the bucket fan-out is the parallelism knob: each bucket
sees only the query terms' blocks overlapping its doc range (hot terms'
lists are spread across all buckets — the read-side analog of the
build-side salting).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import codec
from .build import IndexReader
from ..ops.core import B, K1, bm25_exprs
from ..rows import rows_df
from .delete import keep_mask

_EPS = 1e-6  # pruning safety margin vs 6-decimal score rounding


def _idf(n: int, df: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _bm25_columns(ix: IndexReader, k1: float, b: float):
    """(idf, tf_part) Columns over (df, tf, dl), the reader's corpus
    stats as literals."""
    return bm25_exprs(F.lit(float(ix.n_docs)), F.lit(float(ix.avgdl)),
                      k1, b)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(max(k, 0))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")) \
              .select("rank", "doc_id", "score")


def _translate_rows(ix: IndexReader,
                    out: list[tuple]) -> list[tuple]:
    """Map (rank, ord, score) rows back to raw doc_ids with an array
    take on a dense index's resident docmap (``resolve_ords``); other
    indexes' rows pass through. Tie-breaking is unaffected — ordinals
    are assigned in ascending doc_id order, so (score DESC, ord ASC) ==
    (score DESC, doc_id ASC)."""
    if not out or not ix.dense:
        return out
    ids = ix.resolve_ords([d for _r, d, _s in out])
    return [(r, int(i), s) for (r, _d, s), i in zip(out, ids)]


def _translate_ords(ix: IndexReader, ranked: DataFrame) -> DataFrame:
    """Dense-ordinal indexes: materialize the (<= k)-row ranking and
    translate ords on the driver via resolve_ords rather than joining
    the ranking against a docmap scan per query."""
    if not ix.dense:
        return ranked
    rows = [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in ranked.collect()]
    return rows_df(ix.spark, _translate_rows(ix, rows) or [],
                   "rank int, doc_id long, score double")


def decoded_tc(ix: IndexReader, terms: list[str]) -> DataFrame:
    """(term, doc_id, tf, dl) DataFrame decoded from the queried terms'
    posting blocks (term-pruned parquet scan; tombstones applied in the
    decode pass). doc_id is in POSTING space — ordinals when the index
    is dense."""
    post = ix.term_postings(sorted(set(terms)))
    tomb = ix.tombstones()
    tb = ix.spark.sparkContext.broadcast(tomb) if tomb.size else None

    def _decode(pdf_iter):
        t = tb.value if tb is not None else None
        for pdf in pdf_iter:
            frames = []
            for _, r in pdf.iterrows():
                docs, tfs, dls = codec.decode_blocks(r["blocks"])
                if t is not None:
                    m = keep_mask(docs, t)
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
                frames.append(pd.DataFrame(
                    {"term": r["term"], "doc_id": docs, "tf": tfs, "dl": dls}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return post.select("term", "blocks").mapInPandas(
        _decode, "term string, doc_id long, tf long, dl long")


def bm25_indexed(ix: IndexReader, query_terms: list[str], k: int = 10,
                 k1: float = K1, b: float = B) -> DataFrame:
    """Exhaustive BM25 from the index (decode + DataFrame scoring)."""
    terms = sorted(set(query_terms))
    stats_rows = sorted(ix.term_dfs(terms).items())
    stats = rows_df(ix.spark, stats_rows, "term string, df long")
    tc = decoded_tc(ix, terms)
    idf, tf_part = _bm25_columns(ix, k1, b)
    scored = (tc.join(F.broadcast(stats), "term")
              .groupBy("doc_id")
              .agg(F.round(F.sum(idf * tf_part), 6).alias("score")))
    return _translate_ords(ix, _rank_topk(scored, k))


# serving fast path: queries whose terms' total df fits this budget are
# answered on the driver from a term-pruned parquet read (~ms) instead
# of a Spark job (~seconds of scheduling latency in local mode). This
# is the classic coordinator short-query path of a search engine: the
# driver already holds the term dictionary; only HOT terms (big df)
# need the distributed block-max scorer. Exact same codec + formula.
DRIVER_FASTPATH_MAX_DF = 200_000


def _fastpath_bound(ix: IndexReader) -> int:
    """Driver fast-path routing bound on a query's total posting rows.

    With the reader's decoded-postings LRU, the fast path is valid (and
    fastest) whenever the query's working set FITS THE SERVING CACHE:
    a hot term decodes once and serves from numpy thereafter, so the
    old fixed per-query cost bound would mis-route exactly the traffic
    a cache exists for. At web scale the bound still routes honestly —
    a 10^9-row mega-term exceeds any driver cache budget and falls back
    to the distributed block-max scorer."""
    return max(DRIVER_FASTPATH_MAX_DF, ix.POSTINGS_CACHE_MAX_ROWS)


def search(ix: IndexReader, query_terms: list[str], k: int = 10,
           k1: float = K1, b: float = B) -> list[tuple[int, int, float]]:
    """Serving-native top-k: plain (rank, doc_id, score) tuples with NO
    DataFrame round-trip. Dictionary-bounded queries score entirely on
    the driver (term-pruned parquet point read + the numpy scorer —
    the coordinator short-query path); hot queries fall back to the
    distributed block-max scorer and collect its <= k rows. Identical
    scores/tie-breaking to wand_topk (shared implementation) — this is
    the sustained-QPS serving surface, wand_topk the DataFrame one."""
    from .serving import _driver_score  # lazy: serving imports wand
    terms = sorted(set(query_terms))
    term_df = ix.term_dfs(terms)
    if not term_df:
        return []
    if sum(term_df.values()) <= _fastpath_bound(ix):
        return _driver_score(ix, sorted(term_df), None, k, k1, b)
    df = wand_topk(ix, query_terms, k, k1, b, driver_fastpath=False)
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in df.collect()]


def boolean_search(ix: IndexReader, must: list[str],
                   should: list[str] | None = None,
                   must_not: list[str] | None = None,
                   k: int = 10, k1: float = K1, b: float = B
                   ) -> list[tuple[int, int, float]]:
    """Index-backed boolean-filtered BM25 (semantics defined and
    oracle-gated in ``ops/boolquery.py``; parity-tested row-for-row).

    Driver-native serving path: clause postings come from the reader's
    decoded-postings LRU, the must-intersection / must_not-difference
    is the query-string driver's own algebra (``serving._candidates``),
    and only surviving docs are scored. All clause lists are
    dictionary-bounded (a handful of terms), so like ``search()`` this
    is coordinator work; an index-side distributed variant would follow
    wand_topk's bucket shape if clause posting lists ever exceed driver
    memory."""
    from ..ops.querylang import ParsedQuery
    from .serving import _candidates, _driver_docs, _driver_score
    should = should or []
    must_not = must_not or []
    if not must:
        raise ValueError("boolean_search needs at least one must term")
    overlap = set(must + should) & set(must_not)
    if overlap:
        raise ValueError(f"terms both required and excluded: {overlap}")
    score_terms = sorted(ix.term_dfs(list(dict.fromkeys(must + should))))
    pq = ParsedQuery(must=sorted(set(must)), must_not=sorted(set(must_not)))
    cand = _candidates(pq, [], 0, _driver_docs(ix), score_terms)
    if not len(cand):
        return []
    return _driver_score(ix, score_terms, cand, k, k1, b)


def wand_topk(ix: IndexReader, query_terms: list[str], k: int = 10,
              k1: float = K1, b: float = B, n_buckets: int = 64,
              driver_fastpath: bool = True) -> DataFrame:
    """Block-Max pruned BM25 top-k (see module docstring)."""
    # >= 2: shift must stay < 64 (JVM shiftrightunsigned shifts mod 64,
    # so shift==64 would leave full 64-bit doc values as bucket bounds
    # and explode F.sequence(b1, b2))
    assert n_buckets >= 2 and n_buckets & (n_buckets - 1) == 0, \
        "n_buckets must be a power of 2, >= 2"
    shift = 64 - int(math.log2(n_buckets))
    terms = sorted(set(query_terms))
    post = ix.term_postings(terms)
    # pruned dictionary read: only the query's terms, LRU-cached — no
    # full-vocab structure ever lands on the driver
    term_df = ix.term_dfs(terms)
    if not term_df or k <= 0:
        return rows_df(ix.spark, [], "rank int, doc_id long, score double")
    if driver_fastpath and sum(term_df.values()) <= _fastpath_bound(ix):
        return rows_df(ix.spark, search(ix, terms, k, k1, b),
                       "rank int, doc_id long, score double")
    n_docs, avgdl = int(ix.n_docs), float(ix.avgdl)

    dense = ix.dense
    if dense:
        # dense-ordinal doc space [0, n_docs): bucket by equal ord
        # ranges (high-bit bucketing would drop every small ord into
        # one bucket and serialize the query)
        span = max(1, -(-n_docs // n_buckets))  # ceil(n/buckets)
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
    u64_max = np.uint64(0xFFFFFFFFFFFFFFFF)
    bucketed = (blocks
                .withColumn("bucket", F.explode(F.sequence("b1", "b2")))
                .drop("b1", "b2"))

    idfs = {t: _idf(n_docs, df) for t, df in term_df.items()}
    tombs = ix.tombstones()
    tb = ix.spark.sparkContext.broadcast(tombs) if tombs.size else None

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        """Exact two-pass block-max top-k for one docID-range bucket.

        Pass 1 (threshold discovery): pruned term-at-a-time sweep in
        descending upper-bound order; its k-th best accumulated score is
        a LOWER bound theta on the true k-th best score (accumulations
        only ever understate).

        Pass 2 (exact): decode exactly the blocks that could contain a
        doc scoring >= theta. Proof a true top-k doc d is fully covered:
        for any term t with a block s containing d,
        ub(s) + sum_{t' != t} maxub(t') >= score(d) >= theta, so s is a
        candidate block. Exhaustive vectorized scoring over candidate
        blocks therefore yields exact scores for every true top-k doc;
        other docs may be understated, which cannot perturb the top-k
        selection (their true scores are below the k-th).
        """
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
        groups = []
        for t, g in pdf.groupby("term", sort=True):
            mt = g["max_tf"].to_numpy(np.float64)
            ubs = idfs[t] * (mt * (k1 + 1.0)) / (mt + k1 * (1.0 - b))
            groups.append((float(ubs.max()), t, g, ubs))
        groups.sort(key=lambda x: (-x[0], x[1]))
        term_maxub = [g[0] for g in groups]
        total_ub = float(sum(term_maxub))

        cache: dict[tuple[str, int], tuple] = {}

        def decode(t, g, j):
            key = (t, j)
            if key not in cache:
                row = g.iloc[j]
                d, tf, dl = codec.decode_block(row)
                m = (d >= lo) & (d <= hi)
                if tb is not None:
                    m &= keep_mask(d, tb.value)
                cache[key] = (d[m], tf[m], dl[m])
            return cache[key]

        def contrib_of(t, tf, dl):
            return idfs[t] * (tf * (k1 + 1.0)) / \
                (tf + k1 * (1.0 - b + b * dl / avgdl))

        # ---- pass 1: theta ----
        acc = pd.Series(dtype=np.float64)
        theta = -np.inf
        for i, (tub, t, g, ubs) in enumerate(groups):
            rem_after = float(sum(term_maxub[i + 1:]))
            if np.isfinite(theta) and tub + rem_after < theta - _EPS:
                break
            parts = []
            for j, ub in enumerate(ubs):
                if np.isfinite(theta) and ub + rem_after < theta - _EPS:
                    continue
                d, tf, dl = decode(t, g, j)
                if len(d):
                    parts.append((d, tf, dl))
            if parts:
                d = np.concatenate([p[0] for p in parts])
                tf = np.concatenate([p[1] for p in parts]).astype(np.float64)
                dl = np.concatenate([p[2] for p in parts]).astype(np.float64)
                acc = acc.add(pd.Series(contrib_of(t, tf, dl), index=d),
                              fill_value=0.0)
            if len(acc) >= k:
                kth = float(np.partition(acc.to_numpy(), -k)[-k])
                theta = max(theta, kth)

        # ---- pass 2: exact over candidate blocks ----
        frames = []
        for i, (tub, t, g, ubs) in enumerate(groups):
            other_ub = total_ub - term_maxub[i]
            for j, ub in enumerate(ubs):
                if np.isfinite(theta) and ub + other_ub < theta - _EPS:
                    continue
                d, tf, dl = decode(t, g, j)
                if len(d):
                    frames.append(pd.DataFrame({
                        "doc_id": d,
                        "c": contrib_of(t, tf.astype(np.float64),
                                        dl.astype(np.float64))}))
        if not frames:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        exact = pd.concat(frames, ignore_index=True).groupby("doc_id")["c"].sum()
        docs = exact.index.to_numpy(np.int64)
        scores = np.round(exact.to_numpy(), 6)
        order = np.lexsort((docs, -scores))[:k]
        return pd.DataFrame({"doc_id": docs[order], "score": scores[order]})

    local = bucketed.groupBy("bucket").applyInPandas(
        score_bucket, "doc_id long, score double")
    # per-bucket top-k lists are tiny (n_buckets * k rows); the final
    # merge is a driver-side sort — one Spark job per query instead of
    # an extra global sort + window stage
    rows = local.collect()
    rows.sort(key=lambda r: (-r.score, r.doc_id))
    out = _translate_rows(ix, [(i + 1, int(r.doc_id), float(r.score))
                               for i, r in enumerate(rows[:k])])
    return rows_df(ix.spark, out, "rank int, doc_id long, score double")


def bm25_topk_batch(ix: IndexReader, queries: dict[str, list[str]],
                    k: int = 10, k1: float = K1, b: float = B) -> DataFrame:
    """(query_id, rank, doc_id, score): exact BM25 top-k for EVERY
    query in ONE Spark job.

    The serving-scale path for evaluating a query SET (the reference
    query set, a nightly eval of thousands of queries): the postings of
    the union of all query terms are read and decoded once, a broadcast
    (query_id, term) map fans the decoded postings out to their
    queries, and one hash aggregation + per-query window produces every
    ranking — amortizing scan, decode, and job-scheduling latency
    across the whole batch instead of paying them per query. Queries
    with no indexed terms simply yield no rows (same contract as the
    empty single-query result).

    Scores and tie-breaking are identical to bm25_indexed/wand_topk
    (asserted in tests/test_index.py against both the oracle and the
    per-query scorers).
    """
    all_terms = sorted({t for ts in queries.values() for t in ts})
    dfs = {t: d for t, d in ix.term_dfs(all_terms).items() if d > 0}
    pairs = [(qid, t) for qid, ts in sorted(queries.items())
             for t in sorted(set(ts)) if t in dfs]
    if not pairs:
        return rows_df(ix.spark, [],
                       "query_id string, rank int, doc_id long, score double")
    # batch driver fast path (the serving batch's routing rule): when
    # the union of all queries' posting rows fits the driver budget,
    # ONE term-pruned decode warms the LRU and every query is answered
    # by the one numpy scorer (identical scores/tie-breaks to
    # the distributed plan — parity-tested); 21–200 coordinated
    # queries then cost milliseconds each instead of fanning
    # queries x postings through a shuffle. Past the budget the
    # distributed plan below is the honest shape.
    from .serving import (BATCH_DRIVER_MAX_WORK,  # lazy: serving imports wand
                          _driver_score, _driver_scorer)
    if (sum(dfs.values()) <= _fastpath_bound(ix)
            and len(queries) * min(sum(dfs.values()), int(ix.n_docs))
            <= BATCH_DRIVER_MAX_WORK):
        old_budget = ix.POSTINGS_CACHE_MAX_ROWS
        ix.POSTINGS_CACHE_MAX_ROWS = max(old_budget, sum(dfs.values()) + 1)
        try:
            bs = _driver_scorer(ix, sorted(dfs), k1, b)
            rows = [(qid, r, d, s) for qid in sorted(queries)
                    for r, d, s in _driver_score(ix, queries[qid], None, k,
                                                 k1, b, scorer=bs)]
        finally:
            ix.POSTINGS_CACHE_MAX_ROWS = old_budget
        return rows_df(
            ix.spark, rows,
            "query_id string, rank int, doc_id long, score double")
    qt = F.broadcast(rows_df(ix.spark, pairs,
                             "query_id string, term string"))
    stats = F.broadcast(rows_df(ix.spark, sorted(dfs.items()),
                                "term string, df long"))
    idf, tf_part = _bm25_columns(ix, k1, b)
    scored = (decoded_tc(ix, sorted(dfs)).join(stats, "term").join(qt, "term")
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum(idf * tf_part), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    ranked = (scored.withColumn("rank", F.row_number().over(w).cast("int"))
              .filter(F.col("rank") <= k)
              .select("query_id", "rank", "doc_id", "score"))
    if ix.dense:
        # ONE docmap join amortized over the whole batch, kept in Spark
        # like the ranking it translates (the reader's driver-side map
        # would need every query's rows collected first)
        dm = ix.docmap()
        ranked = (dm.join(F.broadcast(ranked.withColumnRenamed(
            "doc_id", "ord")), "ord")
            .select("query_id", "rank", "doc_id", "score"))
    return ranked
