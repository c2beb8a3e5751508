"""Independent driver-side mirrors for the two rows-only queries that
previously had no external check (VERDICT round 1):

- kpminer_dedup: KPMiner weighting (kpminer.py:93-151) + greedy
  contiguous-subsequence redundancy (pke/base.py:129-206) recomputed
  with plain dict/Counter loops (no engine dataflow code).
- kea_predict: Spark-ML multinomial NaiveBayes recomputed in numpy from
  the labeled feature table (the sklearn-analog math: smoothed log
  priors + log thetas, softmax posterior).

Only the tokenizer function is shared (it has its own 3-implementation
lockstep tests)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from pke_spark.ops import keyphrase, supervised
from pke_spark.tokenizer import TEXT_STOPWORDS, tokenize_text

STOP = set(TEXT_STOPWORDS)
N_DOCS = 40


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .limit(N_DOCS).cache())


@pytest.fixture(scope="module")
def texts(docs):
    pdf = docs.select("doc_id", "text").toPandas()
    return dict(zip(pdf.doc_id, pdf.text))


def _mirror_ngram_cands(toks, n=3):
    """(candidate -> (tf, first_offset, n_words)) with the F1 filters."""
    out = {}
    for i in range(len(toks)):
        for size in range(1, min(n, len(toks) - i) + 1):
            words = toks[i:i + size]
            if set(words) & STOP:
                continue
            if any(len(w) < 2 for w in words):
                continue
            if len("".join(words)) < 3:
                continue
            key = " ".join(words)
            tf, first, _ = out.get(key, (0, i + 1, size))
            out[key] = (tf + 1, min(first, i + 1), size)
    return out


def _mirror_kpminer_dedup(texts, k=5, lasf=2, cutoff=40,
                          alpha=2.3, sigma=3.0, pool=50):
    n = len(texts)
    per_doc = {}
    uni_df = Counter()
    for doc_id, text in texts.items():
        cands = {kk: v for kk, v in
                 _mirror_ngram_cands(tokenize_text(text)).items()
                 if v[1] <= cutoff and v[0] >= lasf}
        per_doc[doc_id] = cands
        for kk, (tf, first, nw) in cands.items():
            if nw == 1:
                uni_df[kk] += 1
    rows = []
    for doc_id, cands in sorted(per_doc.items()):
        if not cands:
            continue
        n_d = sum(tf for tf, _, _ in cands.values())
        p_d = max(1, sum(tf for tf, _, nw in cands.values() if nw > 1))
        boost = min(n_d / (p_d * alpha), sigma)
        weighted = {}
        for kk, (tf, first, nw) in cands.items():
            if nw == 1:
                w = tf * math.log2((n + 1.0) / (1.0 + uni_df[kk]))
            else:
                w = tf * boost * math.log2(n + 1.0)
            weighted[kk] = round(w, 6)
        ranked = sorted(weighted.items(), key=lambda kv: (-kv[1], kv[0]))[:pool]
        kept = []
        for cand, w in ranked:
            t = cand.split(" ")
            redundant = any(t == prev[j:j + len(t)]
                            for prev in kept
                            for j in range(len(prev) - len(t) + 1))
            if redundant:
                continue
            kept.append(t)
            rows.append((doc_id, len(kept), cand, w))
            if len(kept) >= k:
                break
    return rows


def _assert_kpminer_dedup_matches(docs, texts, k=5):
    got = sorted((r.doc_id, r.rank, r.candidate, r.weight)
                 for r in keyphrase.kpminer_dedup(docs, k).collect())
    want = sorted(_mirror_kpminer_dedup(texts, k))
    assert [g[:3] for g in got] == [w[:3] for w in want]
    np.testing.assert_allclose([g[3] for g in got], [w[3] for w in want],
                               atol=1e-6)


def test_kpminer_dedup_independent_mirror(docs, texts):
    _assert_kpminer_dedup_matches(docs, texts)


def test_kpminer_dedup_mirror_on_spread_input(spark, texts):
    """The same parity on an input with a split per task slot, the
    per-doc route with no doc exchange (the fixture's limit() input
    takes the repartition route)."""
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id long, text string")
    slots = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() >= slots
    _assert_kpminer_dedup_matches(docs, texts)


def test_kpminer_dedup_reads_a_50_candidate_pool(spark):
    """40 distinct words said twice give 77 tied multiword candidates.
    Their alphabetical walk keeps the first bigram and then every
    trigram, dropping the bigram between two trigrams, so the 50 best
    hold 26 keepers: k=30 returns 26 rows, where a walk over every
    candidate would return 30."""
    words = ["q" + chr(97 + i // 26) + chr(97 + i % 26) for i in range(40)]
    texts = {7: " ".join(words * 2)}
    assert len(_mirror_kpminer_dedup(texts, 30, pool=10**6)) == 30
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    _assert_kpminer_dedup_matches(docs, texts, k=30)
    assert keyphrase.kpminer_dedup(docs, 30).count() == 26


def _nb_multinomial(X, y, smoothing=1.0):
    """Spark ML NaiveBayes (multinomial) in numpy: returns (pi, theta)
    log-parameter matrices."""
    classes = np.array(sorted(set(y)))
    n = len(y)
    pi = np.array([math.log(np.sum(y == c) + smoothing)
                   - math.log(n + len(classes) * smoothing) for c in classes])
    theta = []
    for c in classes:
        s = X[y == c].sum(axis=0)
        theta.append(np.log(s + smoothing)
                     - math.log(s.sum() + smoothing * X.shape[1]))
    return classes, pi, np.array(theta)


def test_kea_predict_independent_nb_mirror(spark, docs):
    feats = supervised.kea_features(docs)
    gold = supervised.weak_gold(docs)
    labeled = (feats.join(
        gold, (feats.doc_id == gold.doc_id)
        & (feats.candidate == gold.gold), "left")
        .select(feats.doc_id, feats.candidate, "tfidf", "pos_norm",
                (gold.gold.isNotNull()).cast("double").alias("label"))
        .toPandas())
    X = labeled[["tfidf", "pos_norm"]].to_numpy(np.float64)
    y = labeled["label"].to_numpy(np.float64)
    classes, pi, theta = _nb_multinomial(X, y)
    raw = pi[None, :] + X @ theta.T
    m = raw.max(axis=1, keepdims=True)
    prob = np.exp(raw - m)
    prob /= prob.sum(axis=1, keepdims=True)
    p1 = prob[:, list(classes).index(1.0)] if 1.0 in classes else \
        np.zeros(len(labeled))
    labeled["p1"] = np.round(p1, 6)
    want = {}
    for doc_id, g in labeled.groupby("doc_id"):
        top = g.sort_values(["p1", "candidate"],
                            ascending=[False, True]).head(5)
        for i, r in enumerate(top.itertuples(index=False)):
            want[(doc_id, i + 1)] = (r.candidate, r.p1)
    got = {(r.doc_id, r.rank): (r.candidate, r.p_keyphrase)
           for r in supervised.kea_fit_predict(docs, 5).collect()}
    assert set(got) == set(want)
    for key in got:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert abs(got[key][1] - want[key][1]) < 2e-6


def test_wingnus_predict_independent_nb_mirror(spark, docs):
    """Same independence argument as the kea mirror: the feature table
    is hard-verified by the wingnus_features DuckDB oracle, so what
    needs an external check is the NB fit + per-doc ranking — recomputed
    here in numpy from the features (default set [F1, F4, F6],
    wingnus.py:98)."""
    from pke_spark.ops import wingnus

    feats = wingnus.wingnus_features(docs)
    gold = supervised.weak_gold(docs)
    labeled = (feats.join(
        gold, (feats.doc_id == gold.doc_id)
        & (feats.candidate == gold.gold), "left")
        .select(feats.doc_id, feats.candidate, "f1_tfidf",
                "f4_rel_first", "f6_n_words",
                (gold.gold.isNotNull()).cast("double").alias("label"))
        .toPandas())
    X = labeled[["f1_tfidf", "f4_rel_first", "f6_n_words"]] \
        .to_numpy(np.float64)
    y = labeled["label"].to_numpy(np.float64)
    classes, pi, theta = _nb_multinomial(X, y)
    raw = pi[None, :] + X @ theta.T
    m = raw.max(axis=1, keepdims=True)
    prob = np.exp(raw - m)
    prob /= prob.sum(axis=1, keepdims=True)
    p1 = prob[:, list(classes).index(1.0)] if 1.0 in classes else \
        np.zeros(len(labeled))
    labeled["p1"] = np.round(p1, 6)
    want = {}
    for doc_id, g in labeled.groupby("doc_id"):
        top = g.sort_values(["p1", "candidate"],
                            ascending=[False, True]).head(5)
        for i, r in enumerate(top.itertuples(index=False)):
            want[(doc_id, i + 1)] = (r.candidate, r.p1)
    got = {(r.doc_id, r.rank): (r.candidate, r.p_keyphrase)
           for r in wingnus.wingnus_predict(docs, 5).collect()}
    assert set(got) == set(want)
    for key in got:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert abs(got[key][1] - want[key][1]) < 2e-6
