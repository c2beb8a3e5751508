"""Core engine: token counts, document stats, term stats (the DF table),
and exhaustive BM25 top-k — the generalization of the reference's
``compute_document_frequency`` (pke/utils.py:63-139) +
``TfIdf.candidate_weighting`` + ``get_n_best`` (pke/base.py:159-206).

Every builder has a DuckDB oracle twin (``*_SQL``) that MUST compute the
same result; column names/types are aliased identically on both sides.

BM25: k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))
(Lucene/Robertson variant). Scores rounded to 6 decimals on BOTH sides
and ordering is on the ROUNDED score (score DESC, doc_id ASC) so ranks
are engine-independent (SURVEY §7.3 deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tokenizer import duckdb_toks_cte, tokens_exploded
from ..rows import rows_df

K1 = 1.2
B = 0.75


# ---------------------------------------------------------------- Spark

def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — pke's Candidate.surface_forms TF (A3)."""
    return (tokens_exploded(docs)
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, dl) — pke's maximum_offset analog (kea.py:119)."""
    return tokens_exploded(docs).groupBy("doc_id").agg(F.count("*").alias("dl"))


def term_stats(docs: DataFrame) -> DataFrame:
    """(term, df, cf) — the corpus DF table (pke/utils.py:63-139, A1).

    df = #docs containing term; cf = total occurrences. Two-phase hash
    aggregation (partial per partition + final merge) is exactly the
    per-partition-index + merge of the reference's batch job, done by
    Catalyst automatically.
    """
    return (token_counts(docs)
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf")))


def bm25_exprs(n: Column, avgdl: Column, k1: float = K1, b: float = B):
    """(idf, tf_part) column expressions over (df, tf, dl) and the
    corpus stats ``n`` and ``avgdl`` — columns (``F.col``) or literals
    (``F.lit``). THE Spark scoring math, shared by every corpus and
    index Column scorer and the explain surface."""
    idf = F.log(F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)) / \
        (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    return idf, tf_part


def corpus_tokens(docs: DataFrame, profile: str = "code") -> DataFrame:
    """(doc_id, pos, term), materialized ONCE per query via an eager
    ``localCheckpoint``. Every corpus-side scorer consumes the token
    table several times in one plan — per-(doc, term) counts, the
    doc-length table, corpus stats, and (for the query language) one
    semi-join per clause — and Spark re-runs the tokenize+posexplode
    subtree for each consumer: the query-string composite was scanning
    and regex-tokenizing the corpus 170+ times per run. One
    materialization (MEMORY_AND_DISK blocks, freed when the query's
    DataFrame is GC'd) turns all of those into block reads; this is a
    per-query intermediate, not a cross-run cache. Guide §2.4
    ("two operations keyed the same way can share one exchange") taken
    to its limit: share the whole tokenized table.

    LAZY (eager=False) deliberately: the blocks materialize inside the
    query's own action — an eager checkpoint would serialize an extra
    up-front job per query, which measured ~2x slower end-to-end on
    short queries (the first stage that touches a partition computes
    and caches it; any concurrent first-touch recompute is bounded,
    correct, and cheaper than the extra job barrier)."""
    return tokens_exploded(docs, profile=profile).localCheckpoint(eager=False)


def corpus_doc_lengths(toks: DataFrame) -> DataFrame:
    """(doc_id, dl) for a (shared) token table, memoized ON the token
    DataFrame object as a lazy localCheckpoint. Two reasons: inside one
    scorer the dl subtree has two consumers (the avgdl aggregate and
    the per-doc join) and Catalyst does not dedup common subplans; and
    composites whose members share one ``corpus_tokens`` table would
    otherwise re-run the aggregation once per member. Lifetime equals
    the query's token table — a per-query intermediate, not a
    cross-run cache."""
    dl = getattr(toks, "_pke_dl", None)
    if dl is None:
        dl = (toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
              .localCheckpoint(eager=False))
        toks._pke_dl = dl
    return dl


def bm25_rank_over(docs: DataFrame, qdf: DataFrame, k: int = 10,
                   k1: float = K1, b: float = B,
                   constrain=None, profile: str = "code",
                   toks: DataFrame | None = None) -> DataFrame:
    """THE corpus-side BM25 kernel: rank docs against a (term)
    DataFrame of query terms. Every DataFrame scorer (plain / fielded
    / expansion / query-string) delegates here, so the scoring math,
    6-decimal rounding, and (score DESC, doc_id ASC) tie-break exist
    in exactly one place.

    ``constrain`` (optional) maps the per-doc term-count table to its
    candidate-restricted form (semi/anti joins on doc_id) — Lucene's
    filter/required clauses. Corpus-level statistics (n, avgdl, df)
    are ALWAYS computed on the unconstrained corpus, matching Lucene:
    a filter never changes term stats.

    If ``qdf`` carries a ``boost`` column (one row per term), each
    term's contribution is multiplied by it — Lucene clause boosts.
    Without the column the plan is the classic unweighted one.

    Plan shape at scale: query terms are broadcast; per-term stats are
    broadcast (tiny after the semi-join on query terms); the only big
    shuffle is tc⋈dl on doc_id, then a partial-aggregated
    groupBy(doc_id) and a TakeOrderedAndProject global top-k.
    """
    if toks is None:
        toks = corpus_tokens(docs, profile)
    # push the query-term filter BELOW both term-side aggregations:
    # Catalyst will not push a join under a groupBy, so filter the token
    # stream first — df for a term only needs that term's rows. Only the
    # doc-length table (n, avgdl) requires the full corpus pass.
    tc_q = (toks.join(F.broadcast(qdf.select("term")), "term")
            .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dl = corpus_doc_lengths(toks)
    g = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    stats_q = tc_q.groupBy("term").agg(F.count("*").alias("df"))
    scored_src = tc_q if constrain is None else constrain(tc_q)
    idf, tf_part = bm25_exprs(F.col("n"), F.col("avgdl"), k1, b)
    contrib = idf * tf_part
    if "boost" in qdf.columns:
        scored_src = scored_src.join(
            F.broadcast(qdf.select("term", "boost")), "term")
        contrib = F.col("boost") * idf * tf_part
    scored = (scored_src.join(F.broadcast(stats_q), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(g))
              .groupBy("doc_id")
              .agg(F.round(F.sum(contrib), 6).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")) \
              .select("rank", "doc_id", "score")


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = K1, b: float = B,
              toks: DataFrame | None = None) -> DataFrame:
    """Exhaustive BM25 top-k as pure DataFrame ops (the M1 scorer)."""
    q = rows_df(docs.sparkSession, [(t,) for t in query_terms],
                "term string")
    return bm25_rank_over(docs, q, k, k1, b, toks=toks)


# --------------------------------------------------------------- DuckDB

def token_counts_sql() -> str:
    return f"""WITH {duckdb_toks_cte()}
SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term"""


def doc_lengths_sql() -> str:
    return f"""WITH {duckdb_toks_cte()}
SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id"""


def term_stats_sql() -> str:
    return f"""WITH {duckdb_toks_cte()},
tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tc GROUP BY term"""


def bm25_topk_sql(query_terms: list[str], k: int = 10,
                  k1: float = K1, b: float = B,
                  table: str = "documents") -> str:
    """``table`` may be any relation expression (e.g. a filtered
    subselect) — used by the delete-path oracle, where BM25 over the
    purged index must equal BM25 over the corpus minus the deleted
    docs."""
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    return f"""WITH {duckdb_toks_cte(table=table)},
tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
g AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
q AS (SELECT unnest([{qlist}]) AS term),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tc GROUP BY term),
scored AS (
  SELECT tc.doc_id,
         round(sum( ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5))
              * (tc.tf * ({k1} + 1.0))
              / (tc.tf + {k1} * (1.0 - {b} + {b} * dl.dl / g.avgdl)) ), 6) AS score
  FROM tc
  JOIN q USING (term)
  JOIN stats s USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN g
  GROUP BY tc.doc_id)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
