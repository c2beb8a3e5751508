"""Boolean-filtered BM25: must / should / must_not query clauses.

The missing layer between "bag of words, best effort" (bm25_topk) and
real retrieval APIs: Lucene's BooleanQuery, SQL's ``HAVING every
required term``. Semantics (shared by the DataFrame scorer here, the
DuckDB oracle, and the index-backed driver path in
``index/wand.py::boolean_search`` — parity-tested):

- a candidate doc contains EVERY ``must`` term, and NO ``must_not``
  term;
- candidates are scored by standard BM25 over the ``must + should``
  terms they contain (must_not terms never contribute);
- top-k by (score DESC, doc_id ASC), ranks 1..k — identical scoring
  constants, rounding, and tie-breaking to ``core.bm25_topk``.

Plan shape at scale: every clause list is tiny and broadcast. The token
stream is filtered to the union of clause terms before anything
shuffles; the must-filter is a groupBy(doc_id) HAVING
countDistinct==|must| (one shuffle over must-term postings only,
map-side combined), must_not is a broadcast-able left anti join over
must_not-term postings, and only the BM25 aggregation touches the full
per-candidate posting rows. No clause triggers a corpus-wide pass
except the doc-length table BM25 itself needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..tokenizer import duckdb_toks_cte, sql_str_list, tokens_exploded
from ..rows import rows_df
from .core import B, K1, bm25_exprs, corpus_tokens


def boolean_bm25_topk(docs: DataFrame, must: list[str],
                      should: list[str] | None = None,
                      must_not: list[str] | None = None,
                      k: int = 10, k1: float = K1, b: float = B
                      ) -> DataFrame:
    """(rank, doc_id, score) for the boolean query. ``must`` must be
    non-empty (a pure-should query is just bm25_topk)."""
    should = should or []
    must_not = must_not or []
    if not must:
        raise ValueError("boolean_bm25_topk needs at least one must term")
    overlap = set(must + should) & set(must_not)
    if overlap:
        raise ValueError(f"terms both required and excluded: {overlap}")
    spark = docs.sparkSession
    score_terms = list(dict.fromkeys(must + should))
    toks = corpus_tokens(docs)  # one tokenize pass for the 5 consumers

    q = rows_df(spark, [(t,) for t in score_terms], "term string")
    tc_q = (toks.join(F.broadcast(q), "term")
            .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))

    m = rows_df(spark, [(t,) for t in dict.fromkeys(must)],
                "term string")
    cand = (toks.join(F.broadcast(m), "term")
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nm"))
            .where(F.col("nm") == len(set(must)))
            .select("doc_id"))
    if must_not:
        mn = rows_df(spark, [(t,) for t in dict.fromkeys(must_not)],
                     "term string")
        excluded = (toks.join(F.broadcast(mn), "term")
                    .select("doc_id").distinct())
        cand = cand.join(excluded, "doc_id", "left_anti")

    from .core import corpus_doc_lengths
    dl = corpus_doc_lengths(toks)
    g = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    stats_q = tc_q.groupBy("term").agg(F.count("*").alias("df"))
    idf, tf_part = bm25_exprs(F.col("n"), F.col("avgdl"), k1, b)
    scored = (tc_q.join(cand, "doc_id")
              .join(F.broadcast(stats_q), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(g))
              .groupBy("doc_id")
              .agg(F.round(F.sum(idf * tf_part), 6).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")) \
              .select("rank", "doc_id", "score")


# --------------------------------------------------------------- DuckDB

def boolean_bm25_topk_sql(must: list[str], should: list[str] | None = None,
                          must_not: list[str] | None = None, k: int = 10,
                          k1: float = K1, b: float = B,
                          table: str = "documents") -> str:
    should = should or []
    must_not = must_not or []
    score_terms = list(dict.fromkeys(must + should))
    qlist = sql_str_list(score_terms)
    mlist = sql_str_list(sorted(set(must)))
    not_clause = ""
    if must_not:
        not_clause = (f"AND doc_id NOT IN (SELECT DISTINCT doc_id FROM toks "
                      f"WHERE term IN {sql_str_list(sorted(set(must_not)))}) ")
    return f"""WITH {duckdb_toks_cte(table=table)},
tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
       WHERE term IN {qlist} GROUP BY doc_id, term),
cand AS (SELECT doc_id FROM toks WHERE term IN {mlist}
         GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(must))}
         {not_clause}),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
g AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tc GROUP BY term),
scored AS (
  SELECT tc.doc_id,
         round(sum( ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5))
              * (tc.tf * ({k1} + 1.0))
              / (tc.tf + {k1} * (1.0 - {b} + {b} * dl.dl / g.avgdl)) ), 6) AS score
  FROM tc
  JOIN cand USING (doc_id)
  JOIN stats s USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN g
  GROUP BY tc.doc_id)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
