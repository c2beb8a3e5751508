"""pke-parity keyphrase operators, re-expressed as Spark DataFrame plans
with DuckDB oracle twins.

- candidate_runs: maximal runs of non-stopword tokens (the run-id trick)
  = longest_sequence_selection (pke/base.py:274-314, C2/C4) + grouping
  (add_candidate, pke/base.py:208-235, C5) + the candidate_filtering
  predicate chain (pke/base.py:383-451, F1).
- firstphrases: weight = -min(offset) ranking (firstphrases.py:55-64).
- tfidf_topk: unigram TF x IDF with pke's +1 smoothing
  idf = log2((N+1)/(df+1)) (tfidf.py:63-90; N+1/df+1 per tfidf.py:78,84).
- kpminer: lasf/cutoff filtering (kpminer.py:60-91) + boosted weighting
  (kpminer.py:93-151): unigram w = tf*log2(N'/(1+df)), multiword
  w = tf*B*log2(N'/1) with B = min(N_d/(P_d*alpha), sigma), N' = N+1.
- bigrams: n=2 slice of ngram_selection (pke/base.py:237-264, C1) via
  window lead() (no self-join shuffle).

firstphrases, kpminer and kpminer_dedup rank inside per-doc passes
(ops/perdoc.py): a call's cost is in jobs, exchanges and Python task
waves, not documents. tfidf_topk stays a JVM plan: a per-doc form (tf
pass, df aggregate, join, window) measured 1.67 s per 200-doc call
against 0.84 s for the JVM plan on a 4-core host.

Deterministic ordering everywhere: score DESC then candidate/term ASC
(SURVEY §2.7 W4 — Spark sort is not stable, ties must be explicit).
"""

from __future__ import annotations

from itertools import groupby

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tokenizer import (TEXT_STOPWORDS, duckdb_toks_cte, sql_str_list,
                         tokens_exploded)
from .perdoc import jvm_log2, per_doc_rows, round6_half_up

KP_LASF = 2       # pke default 3, scaled to the short testdata docs
KP_CUTOFF = 40    # pke default 400, scaled likewise
KP_ALPHA = 2.3
KP_SIGMA = 3.0
MAX_WORDS = 5     # F1: > 5 words -> drop
MIN_CHARS = 3     # F1: total chars < 3 -> drop
MIN_WORD_LEN = 2  # F1: any word < 2 chars -> drop
KP_POOL = 50      # kpminer_dedup walks each doc's 50 best (pke: all)


# ---------------------------------------------------------------- Spark

_CAND_SCHEMA = ("doc_id long, candidate string, tf long, "
                "first_offset long, n_words long")


def _runs(terms: list, stop: frozenset) -> dict:
    """Per-doc core of candidate_runs: maximal non-stopword runs over
    the document's own token list, grouped by phrase as
    ``{candidate: [tf, first_offset, n_words]}``, F1-filtered.
    Positions are 1-based (the tokens_exploded convention)."""
    out: dict = {}
    pos = 1
    for is_stop, run in groupby(terms, stop.__contains__):
        words = list(run)
        # F1 depends only on the phrase string, so filtering before
        # the group-by equals the DataFrame plan's filter after it
        if (not is_stop and len(words) <= MAX_WORDS
                and sum(map(len, words)) >= MIN_CHARS
                and min(map(len, words)) >= MIN_WORD_LEN):
            # pos ascends, so the first sighting IS min(start_pos)
            out.setdefault(" ".join(words), [0, pos, len(words)])[0] += 1
        pos += len(words)
    return out


def _ngrams(terms: list, n: int, stop: frozenset) -> dict:
    """Per-doc core of ngram_candidates: every 1..n-gram whose words
    all pass the stoplist/length gates, grouped by phrase as
    ``{candidate: [tf, first_offset, n_words]}``."""
    length = len(terms)
    ok = [len(t) >= MIN_WORD_LEN and t not in stop for t in terms]
    out: dict = {}
    for i in range(length):
        chars = 0
        for j in range(i, min(i + n, length)):
            if not ok[j]:
                # a failing word poisons every longer gram from i
                break
            chars += len(terms[j])
            if chars >= MIN_CHARS:
                out.setdefault(" ".join(terms[i:j + 1]),
                               [0, i + 1, j - i + 1])[0] += 1
    return out


def candidate_runs(docs: DataFrame,
                   stoplist: tuple[str, ...] = TEXT_STOPWORDS,
                   toks: DataFrame | None = None) -> DataFrame:
    """(doc_id, candidate, tf, first_offset, n_words) — maximal
    non-stopword runs, grouped by phrase, filtered per F1.

    Runs are a PER-DOCUMENT fact, so they are built in one per-doc
    Python pass (ops/perdoc.py, guide §2.3/§4): tokenize + run split +
    group inside the map — no token-row shuffle, no window, no
    token-explode exchange. ``toks`` is accepted for API compatibility
    but unused: the pass reads the doc rows directly.
    """
    del toks  # per-doc pass tokenizes inline (lockstep tokenizer)
    stop = frozenset(stoplist)
    return per_doc_rows(
        docs, lambda did, terms: [(did, c, *e) for c, e in
                                  _runs(terms, stop).items()],
        _CAND_SCHEMA)


def ngram_candidates(docs: DataFrame, n: int = 3,
                     stoplist: tuple[str, ...] = TEXT_STOPWORDS,
                     toks: DataFrame | None = None) -> DataFrame:
    """(doc_id, candidate, tf, first_offset, n_words) — all 1..n-grams
    per doc (ngram_selection, pke/base.py:237-264) filtered per F1:
    no stopword member, every word >= 2 chars, >= 3 total chars.

    Like candidate_runs, a per-doc pass: the previous plan exploded
    every token row n ways through an Exchange and ran an
    arrays_overlap per gram (measured 2.2 s warm at sf0.1 vs 0.5 s for
    this form); grams of a doc never cross documents, so none of that
    movement was needed."""
    del toks  # per-doc pass tokenizes inline (lockstep tokenizer)
    stop = frozenset(stoplist)
    return per_doc_rows(
        docs, lambda did, terms: [(did, c, *e) for c, e in
                                  _ngrams(terms, n, stop).items()],
        _CAND_SCHEMA)


def _ngrams_cte(n: int = 3, stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> str:
    selects = []
    for size in range(1, n + 1):
        parts = ["term"] + [
            f"lead(term, {j}) OVER (PARTITION BY doc_id ORDER BY pos)"
            for j in range(1, size)]
        cand = " || ' ' || ".join(parts)
        selects.append(
            f"SELECT doc_id, pos, {cand} AS candidate, {size}::BIGINT AS n_words "
            "FROM toks")
    union = " UNION ALL ".join(f"({s})" for s in selects)
    return f"""allg AS ({union}),
kept AS (
  SELECT doc_id, pos, candidate, n_words
  FROM allg
  WHERE candidate IS NOT NULL
    AND len(list_filter(string_split(candidate, ' '),
            w -> w IN {sql_str_list(stoplist)})) = 0
    AND len(list_filter(string_split(candidate, ' '),
            w -> length(w) < {MIN_WORD_LEN})) = 0
    AND length(replace(candidate, ' ', '')) >= {MIN_CHARS}),
ngrams AS (
  SELECT doc_id, candidate, count(*)::BIGINT AS tf,
         min(pos)::BIGINT AS first_offset, max(n_words)::BIGINT AS n_words
  FROM kept GROUP BY doc_id, candidate)"""


def firstphrases(docs: DataFrame, k: int = 5,
                 stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    """Per-doc top-k candidates by first occurrence (FirstPhrases),
    ranked inside the candidate_runs pass: no window exchange."""
    stop = frozenset(stoplist)

    def fn(did: int, terms: list) -> list:
        top = sorted((e[1], c) for c, e in _runs(terms, stop).items())
        return [(did, rank, c, fo)
                for rank, (fo, c) in enumerate(top[:max(k, 0)], start=1)]

    return per_doc_rows(docs, fn, "doc_id long, rank int, candidate string, "
                        "first_offset long")


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-doc top-k unigram terms by TF x IDF (pke +1 smoothing).

    N comes from a broadcast 1-row aggregate inside the plan — no
    separate ``docs.count()`` driver job per query (A2: in index-backed
    deployments it reads from the manifest). Kept as a JVM plan: the
    per-doc form (tf pass, df aggregate, join, window) measured slower,
    1.67 s against 0.84 s per 200-doc call on a 4-core host."""
    toks = tokens_exploded(docs)
    tc = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    stats = tc.groupBy("term").agg(F.count("*").alias("df"))
    nrow = docs.agg(F.count("*").cast("double").alias("n"))
    weight = F.round(
        F.col("tf") * F.log2((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6)
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (tc.join(stats, "term")
            .crossJoin(F.broadcast(nrow))
            .withColumn("weight", weight)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "term", "tf", "weight"))


def kp_weight(tf: int, n_words: int, idf: float, n_d: int, p_d: int,
              alpha: float = KP_ALPHA, sigma: float = KP_SIGMA) -> float:
    """One candidate's KPMiner weight, the double Spark's Column
    expression ``F.round(tf * log2(...), 6)`` gives (same operation
    order; ``idf`` from ``jvm_log2``): unigrams ``tf * idf``, multiword
    ``tf * min(N_d / (P_d * alpha), sigma) * idf``."""
    if n_words == 1:
        return round6_half_up(tf * idf)
    return round6_half_up(tf * min(n_d / (p_d * alpha), sigma) * idf)


def nonredundant(cands: list[str], k: int) -> list[int]:
    """pke ``get_n_best(redundancy_removal=True)`` (base.py:129-206) on
    one doc's candidates in rank order: the indices of the first k that
    are not a contiguous token subsequence of an already-SELECTED one."""
    kept: list[list[str]] = []
    out: list[int] = []
    for i, cand in enumerate(cands):
        if len(out) >= k:
            break
        toks = cand.split(" ")
        n = len(toks)
        if not any(toks == prev[j:j + n]
                   for prev in kept for j in range(len(prev) - n + 1)):
            kept.append(toks)
            out.append(i)
    return out


def _kpminer(docs: DataFrame, k: int, stoplist: tuple[str, ...],
             lasf: int, cutoff: int, alpha: float, sigma: float,
             pool: int | None) -> DataFrame:
    """Two per-doc passes around one aggregate, run at call time: pass 1
    emits each doc's unigram candidates plus a null marker, so one
    groupBy gives the batch's unigram df and N. That table reaches pass
    2 as a dict in its closure (pke's ``load_document_frequency_file``
    dict; PySpark broadcasts a command over 1 MB). Pass 2 scores, ranks
    and, given a ``pool``, walks ``nonredundant`` over its top."""
    stop = frozenset(stoplist)

    def cands(terms: list) -> dict:
        return {c: e for c, e in _ngrams(terms, 3, stop).items()
                if e[1] <= cutoff and e[0] >= lasf}

    def unigrams(did: int, terms: list) -> list:
        return [(None,)] + [(c,) for c, e in cands(terms).items()
                            if e[2] == 1]

    df = dict(per_doc_rows(docs, unigrams, "candidate string")
              .groupBy("candidate").count().collect())
    n1 = df.pop(None, 0) + 1.0
    # one log per distinct df. df 0 (the twin's coalesce for an absent
    # unigram) gives log2(N + 1), which is also the multiword idf
    log2 = jvm_log2(docs.sparkSession)
    idf = {d: log2(n1 / (1.0 + d)) for d in {0, *df.values()}}

    def rank(did: int, terms: list) -> list:
        cs = cands(terms)
        n_d = sum(e[0] for e in cs.values())
        p_d = max(1, sum(e[0] for e in cs.values() if e[2] > 1))
        scored = sorted(
            (-kp_weight(tf, nw, idf[df.get(c, 0) if nw == 1 else 0],
                        n_d, p_d, alpha, sigma), c, tf)
            for c, (tf, _fo, nw) in cs.items())
        if pool is None:
            return [(did, r, c, tf, -w) for r, (w, c, tf)
                    in enumerate(scored[:max(k, 0)], start=1)]
        top = scored[:pool]
        return [(did, r, top[i][1], -top[i][0]) for r, i in
                enumerate(nonredundant([c for _w, c, _tf in top], k),
                          start=1)]

    schema = ("doc_id long, rank int, candidate string, tf long, "
              "weight double" if pool is None else
              "doc_id long, rank int, candidate string, weight double")
    return per_doc_rows(docs, rank, schema)


def kpminer(docs: DataFrame, k: int = 5,
            stoplist: tuple[str, ...] = TEXT_STOPWORDS,
            lasf: int = KP_LASF, cutoff: int = KP_CUTOFF,
            alpha: float = KP_ALPHA, sigma: float = KP_SIGMA) -> DataFrame:
    """Per-doc top-k KPMiner-weighted candidates (see module docstring).
    Candidates are 1..3-grams (pke uses ngram_selection(n=5),
    kpminer.py:73) filtered by lasf/cutoff.

    Eager: the unigram df and N aggregate runs when this is called
    (see ``_kpminer``); the returned ranking is one lazy per-doc pass."""
    return _kpminer(docs, k, stoplist, lasf, cutoff, alpha, sigma, None)


def redundancy_topk(ranked: DataFrame, k: int = 5,
                    weight_col: str = "weight") -> DataFrame:
    """pke ``get_n_best(redundancy_removal=True)`` over a ranked
    (doc_id, candidate, weight) table: per doc, ``nonredundant`` in
    (weight DESC, candidate ASC) order. The walk is sequential per doc
    -> applyInPandas; the corpus stays parallel (SURVEY §7.3)."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([weight_col, "candidate"],
                              ascending=[False, True], kind="mergesort")
        top = pdf.iloc[nonredundant(pdf["candidate"].tolist(), k)]
        return top.assign(rank=range(1, len(top) + 1)).rename(
            columns={weight_col: "weight"})

    return ranked.select("doc_id", "candidate", weight_col) \
        .groupBy("doc_id").applyInPandas(
            fn, "doc_id long, rank int, candidate string, weight double")


def kpminer_dedup(docs: DataFrame, k: int = 5,
                  stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    """KPMiner ranking with greedy redundancy removal (T1) over each
    doc's top-``KP_POOL`` candidates, all inside kpminer's ranking
    pass: no window, no join, no cached pool.

    Eager like ``kpminer``: the df aggregate runs when this is called."""
    return _kpminer(docs, k, stoplist, KP_LASF, KP_CUTOFF, KP_ALPHA,
                    KP_SIGMA, KP_POOL)


def bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram, tf) via lead() — one shuffle, no self-join."""
    toks = tokens_exploded(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (toks.withColumn("nxt", F.lead("term").over(w))
            .filter(F.col("nxt").isNotNull())
            .select("doc_id",
                    F.concat_ws(" ", "term", "nxt").alias("bigram"))
            .groupBy("doc_id", "bigram").agg(F.count("*").alias("tf")))


# --------------------------------------------------------------- DuckDB

def _cands_cte(stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> str:
    return f"""{duckdb_toks_cte()},
flagged AS (
  SELECT doc_id, pos, term,
         CASE WHEN term IN {sql_str_list(stoplist)} THEN 0 ELSE 1 END AS flag
  FROM toks),
runs AS (
  SELECT *, sum(1 - flag) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged),
phrases AS (
  SELECT doc_id, run_id, string_agg(term, ' ' ORDER BY pos) AS candidate,
         min(pos)::BIGINT AS start_pos, count(*)::BIGINT AS n_words
  FROM runs WHERE flag = 1 GROUP BY doc_id, run_id),
cands AS (
  SELECT doc_id, candidate, count(*)::BIGINT AS tf,
         min(start_pos)::BIGINT AS first_offset,
         max(n_words)::BIGINT AS n_words
  FROM phrases GROUP BY doc_id, candidate
  HAVING max(n_words) <= {MAX_WORDS}
     AND length(replace(candidate, ' ', '')) >= {MIN_CHARS}
     AND len(list_filter(string_split(candidate, ' '),
             w -> length(w) < {MIN_WORD_LEN})) = 0)"""


def ngram_candidates_sql(n: int = 3) -> str:
    return f"""WITH {duckdb_toks_cte()},
{_ngrams_cte(n)}
SELECT doc_id, candidate, tf, first_offset, n_words FROM ngrams"""


def candidate_runs_sql() -> str:
    return f"""WITH {_cands_cte()}
SELECT doc_id, candidate, tf, first_offset, n_words FROM cands"""


def firstphrases_sql(k: int = 5) -> str:
    return f"""WITH {_cands_cte()},
ranked AS (
  SELECT doc_id, candidate, first_offset,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY first_offset ASC, candidate ASC) AS INTEGER) AS rank
  FROM cands)
SELECT doc_id, rank, candidate, first_offset FROM ranked WHERE rank <= {k}"""


def tfidf_topk_sql(k: int = 3) -> str:
    return f"""WITH {duckdb_toks_cte()},
tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tc GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n FROM documents),
ranked AS (
  SELECT tc.doc_id, tc.term, tc.tf,
         round(tc.tf * log2((n.n + 1.0) / (s.df + 1.0)), 6) AS weight,
         CAST(row_number() OVER (PARTITION BY tc.doc_id
              ORDER BY round(tc.tf * log2((n.n + 1.0) / (s.df + 1.0)), 6) DESC,
                       tc.term ASC) AS INTEGER) AS rank
  FROM tc JOIN stats s USING (term) CROSS JOIN n)
SELECT doc_id, rank, term, tf, weight FROM ranked WHERE rank <= {k}"""


def kpminer_sql(k: int = 5, lasf: int = KP_LASF, cutoff: int = KP_CUTOFF,
                alpha: float = KP_ALPHA, sigma: float = KP_SIGMA) -> str:
    return f"""WITH {duckdb_toks_cte()},
{_ngrams_cte()},
filtered AS (SELECT * FROM ngrams WHERE first_offset <= {cutoff} AND tf >= {lasf}),
scal AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_d,
         greatest(1, sum(CASE WHEN n_words > 1 THEN tf ELSE 0 END))::BIGINT AS p_d
  FROM filtered GROUP BY doc_id),
uni_df AS (
  SELECT candidate, count(*)::BIGINT AS df FROM filtered
  WHERE n_words = 1 GROUP BY candidate),
n AS (SELECT count(*)::BIGINT AS n FROM documents),
weighted AS (
  SELECT c.doc_id, c.candidate, c.tf,
         round(CASE WHEN c.n_words = 1
               THEN c.tf * log2((n.n + 1.0) / (1.0 + coalesce(u.df, 0)))
               ELSE c.tf * least(s.n_d / (s.p_d * {alpha}), {sigma})
                    * log2(n.n + 1.0) END, 6) AS weight
  FROM filtered c
  JOIN scal s USING (doc_id)
  LEFT JOIN uni_df u ON c.candidate = u.candidate
  CROSS JOIN n),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY weight DESC, candidate ASC) AS INTEGER) AS rank
  FROM weighted)
SELECT doc_id, rank, candidate, tf, weight FROM ranked WHERE rank <= {k}"""


def bigrams_sql() -> str:
    return f"""WITH {duckdb_toks_cte()},
pairs AS (
  SELECT doc_id,
         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
  FROM toks)
SELECT doc_id, bigram, count(*)::BIGINT AS tf
FROM pairs WHERE bigram IS NOT NULL GROUP BY doc_id, bigram"""
