"""TopicRank (pke/unsupervised/graph_based/topicrank.py), Spark-first:
per-document topic clustering + topic-graph PageRank inside
``applyInPandas`` (per-doc matrices are tiny; SURVEY §2.10-2.11 L1-L3,
G5). scipy is absent, so average-linkage HAC (UPGMA) is implemented
directly in numpy with the same cut semantics as
``fcluster(linkage(Y, 'average'), t, 'distance')``.

Faithful pieces (file:line of the reference):
- candidate vectorization: stem COUNT vectors (topicrank.py:97-124)
- jaccard distance matrix with scipy's numeric-vector semantics — a
  coordinate mismatches when values differ and either is nonzero
  (topicrank.py:145)
- HAC average linkage, cut at t=0.74 (topicrank.py:148-156)
- topic-graph edges: sum over cross-topic candidate occurrence pairs of
  1/gap, gap shortened by the earlier candidate's length and floored at
  1 (compute_gap, topicrank.py:158-171; build graph :173-191)
- pagerank alpha=0.85 on the weighted complete topic graph (:219)
- representative = first-occurring candidate of the topic, weight =
  topic score (:222-244, default heuristic)

No SQL oracle (clustering + fixpoint) -> rows-only driver check;
self-consistency vs a driver-side recomputation in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..tokenizer import TEXT_STOPWORDS
from .graph import _pagerank_dense
from .perdoc import per_doc_rows

THRESHOLD = 0.74
ALPHA = 0.85


def _runs_with_offsets(terms: list[str], stopset: set):
    """Non-stopword runs -> {phrase: (words, [start_offsets])} (1-based)."""
    cands: dict[str, list] = {}
    run: list[str] = []
    start = None
    for i, t in enumerate(terms):
        if t in stopset:
            if run:
                p = " ".join(run)
                cands.setdefault(p, [run, []])[1].append(start)
            run, start = [], None
        else:
            if not run:
                start = i + 1
            run.append(t)
    if run:
        p = " ".join(run)
        cands.setdefault(p, [run, []])[1].append(start)
    return cands


def _jaccard_count_dist(names: list[str], cands: dict) -> np.ndarray:
    """scipy-exact jaccard distance matrix over candidate COUNT vectors
    (topicrank.py:97-124 builds counts via ``X[i, dim.index(w)] += 1``;
    scipy's ``pdist(X, 'jaccard')`` on numeric vectors counts a
    coordinate as a mismatch whenever the values differ and either is
    nonzero — so 'big big data' vs 'big data' disagree on 'big')."""
    vocab = sorted({w for n in names for w in cands[n][0]})
    vi = {w: i for i, w in enumerate(vocab)}
    X = np.zeros((len(names), len(vocab)), dtype=np.int64)
    for i, n in enumerate(names):
        for w in cands[n][0]:
            X[i, vi[w]] += 1
    a, b = X[:, None, :], X[None, :, :]
    nz = (a != 0) | (b != 0)
    num = ((a != b) & nz).sum(axis=2)
    den = nz.sum(axis=2)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, num / den, 0.0)


def _upgma_clusters(dist: np.ndarray, t: float) -> list[int]:
    """Average-linkage agglomerative clustering, cut at distance t.
    Returns cluster id per item (0-based)."""
    n = dist.shape[0]
    active = list(range(n))
    members = {i: [i] for i in range(n)}
    d = dist.astype(np.float64).copy()
    np.fill_diagonal(d, np.inf)
    while len(active) > 1:
        # find min pair among active
        sub = d[np.ix_(active, active)]
        k = int(np.argmin(sub))
        i_pos, j_pos = divmod(k, len(active))
        if sub[i_pos, j_pos] > t:
            break
        a, b = active[i_pos], active[j_pos]
        if a == b:
            break
        # UPGMA update: merged cluster reuses slot a
        na, nb = len(members[a]), len(members[b])
        for m in active:
            if m in (a, b):
                continue
            d[a, m] = d[m, a] = (na * d[a, m] + nb * d[b, m]) / (na + nb)
        members[a] = members[a] + members[b]
        del members[b]
        active.remove(b)
        d[b, :] = np.inf
        d[:, b] = np.inf
    labels = [0] * n
    for cid, (_, items) in enumerate(sorted(members.items())):
        for it in items:
            labels[it] = cid
    return labels


def _topicrank_rows(doc_id: int, terms: list[str], stopset: set, k: int,
                    threshold: float) -> list[tuple]:
    """Lean per-doc core over the term sequence (offsets are the dense
    1-based token order — ``_runs_with_offsets`` derives them itself)."""
    cands = _runs_with_offsets(terms, stopset)
    names = sorted(cands)
    if not names:
        return []
    # count vectorization + scipy-exact jaccard distances (J5/L1-L2)
    if len(names) == 1:
        labels = [0]
    else:
        labels = _upgma_clusters(
            _jaccard_count_dist(names, cands), threshold)
    topics: dict[int, list[str]] = {}
    for n, lab in zip(names, labels):
        topics.setdefault(lab, []).append(n)
    tids = sorted(topics)
    nt = len(tids)
    adj = np.zeros((nt, nt), dtype=np.float64)
    for a in range(nt):
        for b in range(a + 1, nt):
            w = 0.0
            for ci in topics[tids[a]]:
                li = len(cands[ci][0])
                for cj in topics[tids[b]]:
                    lj = len(cands[cj][0])
                    for pi in cands[ci][1]:
                        for pj in cands[cj][1]:
                            gap = abs(pi - pj)
                            if pi < pj:
                                gap -= li - 1
                            elif pi > pj:
                                gap -= lj - 1
                            if gap == 0:
                                gap = 1
                            w += 1.0 / gap
            adj[a, b] = adj[b, a] = w
    pers = np.full(nt, 1.0 / nt)
    scores = _pagerank_dense(adj, pers, alpha=ALPHA)
    # representative: first-occurring candidate of each topic
    rows = []
    for a, tid in enumerate(tids):
        reps = topics[tid]
        first = min(reps, key=lambda n: min(cands[n][1]))
        rows.append((first, float(scores[a])))
    rows.sort(key=lambda r: (-round(r[1], 6), r[0]))
    rows = rows[:max(k, 0)]
    return [(doc_id, i + 1, c, round(s, 6))
            for i, (c, s) in enumerate(rows)]


def _topicrank_doc(pdf: pd.DataFrame, stopset: set, k: int,
                   threshold: float) -> pd.DataFrame:
    """Frame wrapper around ``_topicrank_rows`` (driver-side tests)."""
    pdf = pdf.sort_values("pos")
    rows = _topicrank_rows(int(pdf["doc_id"].iloc[0]),
                           pdf["term"].tolist(), stopset, k, threshold)
    return pd.DataFrame({
        "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
        "rank": pd.array([r[1] for r in rows], dtype="int32"),
        "candidate": pd.Series([r[2] for r in rows], dtype="object"),
        "score": pd.Series([r[3] for r in rows], dtype="float64")})


def topicrank_topk(docs: DataFrame, k: int = 5,
                   stoplist: tuple[str, ...] = TEXT_STOPWORDS,
                   threshold: float = THRESHOLD) -> DataFrame:
    stopset = set(stoplist)

    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        return _topicrank_rows(doc_id, terms, stopset, k, threshold)

    return per_doc_rows(docs, row_fn,
                        "doc_id long, rank int, candidate string, "
                        "score double")


# ------------------------------------------------------- MultipartiteRank

def _multipartite_rows(doc_id: int, terms: list[str], stopset: set, k: int,
                       threshold: float, alpha: float) -> list[tuple]:
    """MultipartiteRank (multipartiterank.py): directed CANDIDATE graph,
    inter-topic edges weight = sum 1/gap (both directions,
    :118-147), first-variant boost (weight_adjustment :149-195:
    edge (end -> first) += sum of other variants' (v -> end) weights
    * alpha * exp(1/(1 + first_pos))), then directed PageRank (:223).
    Positions here are 1-based (the reference's are 0-based); the boost
    exponent uses the same formula on our positions — documented
    adaptation, deterministic."""
    import math
    cands = _runs_with_offsets(terms, stopset)
    names = sorted(cands)
    if not names:
        return []
    if len(names) == 1:
        labels = [0]
    else:
        # multipartiterank.py:100-101 nan_to_num's the pdist output; our
        # _jaccard_count_dist already maps empty-union pairs to 0
        labels = _upgma_clusters(_jaccard_count_dist(names, cands), threshold)
    n = len(names)
    idx = {nm: i for i, nm in enumerate(names)}
    # adj[dst, src] = weight of edge src -> dst
    adj = np.zeros((n, n), dtype=np.float64)
    for a in range(n):
        for b in range(a + 1, n):
            if labels[a] == labels[b]:
                continue
            la, lb = len(cands[names[a]][0]), len(cands[names[b]][0])
            w = 0.0
            for pi in cands[names[a]][1]:
                for pj in cands[names[b]][1]:
                    gap = abs(pi - pj)
                    if pi < pj:
                        gap -= la - 1
                    elif pi > pj:
                        gap -= lb - 1
                    if gap == 0:
                        gap = 1
                    w += 1.0 / gap
            adj[b, a] += w  # a -> b
            adj[a, b] += w  # b -> a
    # first-variant boost: collect ALL boosts first, then apply — pke
    # fills `weighted_edges` across every topic before mutating any
    # weight (multipartiterank.py:157-194), so boosters always read
    # unboosted weights
    topics: dict[int, list[str]] = {}
    for nm, lab in zip(names, labels):
        topics.setdefault(lab, []).append(nm)
    boosts: dict[tuple[int, int], float] = {}
    for variants in topics.values():
        if len(variants) == 1:
            continue
        first = min(variants, key=lambda v: min(cands[v][1]))
        fi = idx[first]
        first_pos = min(cands[first][1])
        boost_base = alpha * math.exp(1.0 / (1 + first_pos))
        for end in range(n):
            if adj[end, fi] == 0.0:  # first -> end edge absent
                continue
            boosters = sum(adj[end, idx[v]] for v in variants
                           if v != first and adj[end, idx[v]] > 0.0)
            if boosters:
                boosts[(fi, end)] = boosters * boost_base  # end -> first
    for (fi, end), w in boosts.items():
        adj[fi, end] += w
    pers = np.full(n, 1.0 / n)
    scores = _pagerank_dense(adj, pers, alpha=ALPHA)
    order = sorted(range(n), key=lambda i: (-round(float(scores[i]), 6),
                                            names[i]))[:max(k, 0)]
    return [(doc_id, i + 1, names[j], round(float(scores[j]), 6))
            for i, j in enumerate(order)]


def _multipartite_doc(pdf: pd.DataFrame, stopset: set, k: int,
                      threshold: float, alpha: float) -> pd.DataFrame:
    """Frame wrapper around ``_multipartite_rows`` (driver-side tests)."""
    pdf = pdf.sort_values("pos")
    rows = _multipartite_rows(int(pdf["doc_id"].iloc[0]),
                              pdf["term"].tolist(), stopset, k, threshold,
                              alpha)
    return pd.DataFrame({
        "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
        "rank": pd.array([r[1] for r in rows], dtype="int32"),
        "candidate": pd.Series([r[2] for r in rows], dtype="object"),
        "score": pd.Series([r[3] for r in rows], dtype="float64")})


def multipartiterank_topk(docs: DataFrame, k: int = 5,
                          stoplist: tuple[str, ...] = TEXT_STOPWORDS,
                          threshold: float = THRESHOLD,
                          alpha: float = 1.1) -> DataFrame:
    stopset = set(stoplist)

    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        return _multipartite_rows(doc_id, terms, stopset, k, threshold,
                                  alpha)

    return per_doc_rows(docs, row_fn,
                        "doc_id long, rank int, candidate string, "
                        "score double")
