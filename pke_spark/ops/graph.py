"""Graph-based keyphrase ranking (TextRank / SingleRank / PositionRank),
re-expressed for Spark: the corpus stays distributed, each document's
tiny word graph + PageRank runs inside ``applyInPandas`` grouped by
doc_id (SURVEY §4.3: per-document graphs -> networkx in the UDF is the
correct physical plan; a corpus-scale DataFrame PageRank loop would pay
a shuffle per iteration for graphs of ~100 nodes).

Parity with the reference (semantics adapted to the no-POS corpus —
the POS gate {NOUN,PROPN,ADJ} becomes the non-stopword gate, F6):
- TextRank  (textrank.py):   unweighted co-occurrence graph, window 2
- SingleRank (singlerank.py): count-weighted graph, window 10
- PositionRank (positionrank.py): weighted graph, window 10,
  personalization p(w) = sum 1/(pos) over w's occurrences, normalized
- candidate score = sum of word scores over the candidate's words (J2),
  candidates = maximal non-stopword runs (C2), score normalized by the
  pke convention (sum, with SingleRank/TextRank using raw sums)
- pagerank: alpha=0.85, max_iter=100, tol=1e-4 per pke's explicit calls
  (textrank.py:158, singlerank.py:128, positionrank.py:171 all pass
  tol=0.0001); the iteration mirrors networkx's exactly (uniform start,
  L1 < n*tol), verified against nx.pagerank in tests/test_graph_nx.py

Determinism: scores rounded to 6 decimals; ordering (score DESC,
candidate ASC); node iteration order = sorted token order.

No SQL oracle (iterative fixpoint) -> rows-only driver check; parity is
asserted in tests against a driver-side networkx recomputation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..tokenizer import TEXT_STOPWORDS
from .perdoc import per_doc_rows

ALPHA = 0.85


def _pagerank_dense(adj, pers, alpha: float = ALPHA,
                    max_iter: int = 100, tol: float = 1e-6):
    """networkx-faithful damped PageRank by dense power iteration.

    Mirrors ``nx.pagerank``'s power iteration exactly: row-stochastic
    transition on out-weights, UNIFORM start vector (not the
    personalization), dangling mass redistributed by the
    personalization vector, convergence when the L1 error < n * tol.
    ``adj[i, j]`` = weight of edge j->i, so column j's sum is node j's
    out-weight and ``m @ x`` equals networkx's ``x @ A_rownorm``.

    ``tol`` is per-model: pke passes tol=0.0001 for TextRank/SingleRank/
    PositionRank/TPR (textrank.py:158, singlerank.py:128,
    positionrank.py:171, single_tpr.py:189) and the networkx default
    1e-6 for TopicRank/MultipartiteRank (topicrank.py:219,
    multipartiterank.py:223)."""
    import numpy as np
    n = adj.shape[0]
    out = adj.sum(axis=0)  # out-weight of each source column
    dangling = out == 0
    safe_out = np.where(dangling, 1.0, out)
    m = adj / safe_out  # column-stochastic (except dangling columns)
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        x_new = alpha * (m @ x + x[dangling].sum() * pers) + (1 - alpha) * pers
        if np.abs(x_new - x).sum() < n * tol:
            return x_new
        x = x_new
    return x


def _build_word_graph(terms: list[str], positions: list[int],
                      stopset: set, window: int, weighted: bool):
    """Co-occurrence adjacency over non-stop words (tiny dense matrix)."""
    import numpy as np

    valid = [(p, t) for p, t in zip(positions, terms) if t not in stopset]
    nodes = sorted({t for _, t in valid})
    idx = {t: i for i, t in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n), dtype=np.float64)
    for i, (pi, ti) in enumerate(valid):
        for j in range(i + 1, len(valid)):
            pj, tj = valid[j]
            if pj - pi >= window:
                break
            if ti == tj:
                continue
            a, b = idx[ti], idx[tj]
            if weighted:
                adj[a, b] += 1.0
                adj[b, a] += 1.0
            else:
                adj[a, b] = 1.0
                adj[b, a] = 1.0
    return valid, nodes, idx, adj


PKE_TOL = 1e-4  # pke passes tol=0.0001 to nx.pagerank for G1-G4


def _pagerank_scores(terms: list[str], positions: list[int],
                     stopset: set, window: int, weighted: bool,
                     personalize: bool) -> dict[str, float]:
    """Word scores for one document (numpy, tiny dense graph)."""
    import numpy as np

    valid, nodes, idx, adj = _build_word_graph(terms, positions, stopset,
                                               window, weighted)
    if not nodes:
        return {}
    n = len(nodes)
    if personalize:
        acc = np.zeros(n)
        for p, t in valid:
            acc[idx[t]] += 1.0 / p  # pos is 1-based
        pers = acc / acc.sum()
    else:
        pers = np.full(n, 1.0 / n)
    scores = _pagerank_dense(adj, pers, tol=PKE_TOL)
    return {t: float(scores[idx[t]]) for t in nodes}


def _pagerank_scores_custom(terms: list[str], positions: list[int],
                            stopset: set, window: int, weighted: bool,
                            pers_map: dict[str, float]) -> dict[str, float]:
    """Like _pagerank_scores but with an explicit personalization map
    (TopicalPageRank's topical word importance, single_tpr.py:186-191)."""
    import numpy as np

    _, nodes, idx, adj = _build_word_graph(terms, positions, stopset,
                                           window, weighted)
    if not nodes:
        return {}
    pers = np.array([pers_map.get(t, 0.0) for t in nodes], dtype=np.float64)
    s = pers.sum()
    pers = pers / s if s > 0 else np.full(len(nodes), 1.0 / len(nodes))
    scores = _pagerank_dense(adj, pers, tol=PKE_TOL)
    return {t: float(scores[idx[t]]) for t in nodes}


def _rank_doc_rows(doc_id: int, terms: list[str], positions: list[int],
                   stopset: set, window: int, weighted: bool,
                   personalize: bool, k: int) -> list[tuple]:
    """Lean per-doc core over plain lists (no per-doc pandas frames —
    the frame churn dominated the old applyInPandas path)."""
    scores = _pagerank_scores(terms, positions, stopset, window, weighted,
                              personalize)
    # candidates = maximal non-stopword runs (C2); score = sum word scores
    # (token positions are dense, so runs break exactly at stopwords)
    cands: dict[str, float] = {}
    run: list[str] = []

    def flush():
        if run:
            phrase = " ".join(run)
            cands.setdefault(phrase, sum(scores.get(w, 0.0) for w in run))

    for t in terms:
        if t in stopset:
            flush()
            run = []
        else:
            run.append(t)
    flush()
    top = sorted(cands.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:max(k, 0)]
    return [(doc_id, i + 1, t, round(s, 6))
            for i, (t, s) in enumerate(top)]


def _rank_doc(pdf: pd.DataFrame, stopset: set, window: int, weighted: bool,
              personalize: bool, k: int) -> pd.DataFrame:
    """(doc_id, pos, term) frame wrapper around ``_rank_doc_rows`` —
    kept for the driver-side parity tests; the executor feeds the core
    directly."""
    pdf = pdf.sort_values("pos")
    rows = _rank_doc_rows(int(pdf["doc_id"].iloc[0]), pdf["term"].tolist(),
                          pdf["pos"].tolist(), stopset, window, weighted,
                          personalize, k)
    return pd.DataFrame({
        "doc_id": [r[0] for r in rows],
        "rank": pd.array([r[1] for r in rows], dtype="int32"),
        "candidate": [r[2] for r in rows],
        "score": [r[3] for r in rows]})


def _graph_topk(docs: DataFrame, k: int, window: int, weighted: bool,
                personalize: bool,
                stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    stopset = set(stoplist)

    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        return _rank_doc_rows(doc_id, terms, list(range(1, len(terms) + 1)),
                              stopset, window, weighted, personalize, k)

    return per_doc_rows(docs, row_fn,
                        "doc_id long, rank int, candidate string, "
                        "score double")


def textrank_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    return _graph_topk(docs, k, window=2, weighted=False, personalize=False)


def _textrank_tp_rows(doc_id: int, terms: list[str], positions: list[int],
                      stopset: set, k: int,
                      top_percent: float) -> list[tuple]:
    """The pke-default TextRank path (textrank.py:160-185, T3 + C4):
    keep floor(n_nodes * T) best words, rebuild candidates as maximal
    runs of KEPT words (longest_keyword_sequence_selection), weight =
    sum of word scores + first_offset * 1e-8 explicit tie-break."""
    import math
    scores = _pagerank_scores(terms, positions, stopset, 2, False, False)
    if not scores:
        return []
    to_keep = min(math.floor(len(scores) * top_percent), len(scores))
    # Round to the engine's 6-decimal convention BEFORE the cut: raw
    # float scores can differ by an ulp across BLAS builds, and an
    # unrounded sort key would flip which of two tied words survives
    # the top-percent boundary (observed: doc 74 'data' vs 'key').
    top_words = set(sorted(scores,
                           key=lambda t: (-round(scores[t], 6), t))[:int(to_keep)])
    # C4: maximal runs of tokens in the keyword set, with first offsets
    cands: dict[str, tuple[float, int]] = {}
    run: list[str] = []
    start = None
    for i, t in enumerate(terms):
        if t in top_words:
            if not run:
                start = positions[i]
            run.append(t)
        else:
            if run:
                phrase = " ".join(run)
                if phrase not in cands:
                    cands[phrase] = (sum(scores[w] for w in run)
                                     + start * 1e-8, start)
            run, start = [], None
    if run:
        phrase = " ".join(run)
        if phrase not in cands:
            cands[phrase] = (sum(scores[w] for w in run) + start * 1e-8, start)
    if not cands:
        return []
    top = sorted(cands.items(), key=lambda kv: (-round(kv[1][0], 6), kv[0]))[:max(k, 0)]
    return [(doc_id, i + 1, t, round(v[0], 6))
            for i, (t, v) in enumerate(top)]


def textrank_top_percent(docs: DataFrame, k: int = 5,
                         top_percent: float = 0.33,
                         stoplist: tuple[str, ...] = TEXT_STOPWORDS
                         ) -> DataFrame:
    """pke's default TextRank usage: candidates rebuilt from the
    top-percent words (rows-only; parity in tests/test_graph_nx.py)."""
    stopset = set(stoplist)

    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        return _textrank_tp_rows(doc_id, terms,
                                 list(range(1, len(terms) + 1)),
                                 stopset, k, top_percent)

    return per_doc_rows(docs, row_fn,
                        "doc_id long, rank int, candidate string, "
                        "score double")


def singlerank_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    return _graph_topk(docs, k, window=10, weighted=True, personalize=False)


def positionrank_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    return _graph_topk(docs, k, window=10, weighted=True, personalize=True)
