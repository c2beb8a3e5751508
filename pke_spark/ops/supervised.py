"""Supervised keyphrase extraction (Kea) + evaluation, Spark-ML-native.

Reference mapping (SURVEY §2.12):
- M1 Kea features (kea.py:95-138): [tf*idf, first_offset / doc_len]
- M3/M4 NB train + classify (kea.py:154-166, supervised/api.py:40-66):
  ``pyspark.ml.classification.NaiveBayes`` (JVM-side; the reference
  uses sklearn MultinomialNB)
- M5 training harness (utils.py:142-231): labels = candidate in the
  gold set; the sandbox has no gold keyphrases, so a deterministic weak
  gold (top-3 TF-IDF unigrams per doc) stands in — the pipeline shape
  (features ⋈ gold -> fit -> transform -> per-doc top-k) is the real
  thing
- M7 evaluation (examples/benchmarking-models.py:66-85): micro-averaged
  P/R/F@k of predictions vs gold — SQL-expressible, has an oracle twin.

Scale notes: features are column expressions over the candidate table;
fit() aggregates sufficient statistics in one pass (NB is a trivially
distributable aggregation); transform is a map. No driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import cache_latest
from ..tokenizer import TEXT_STOPWORDS
from ..rows import rows_df
from .keyphrase import _cands_cte, candidate_runs


def weak_gold(docs: DataFrame, n: int = 3) -> DataFrame:
    """Deterministic stand-in gold set: top-n TF-IDF unigrams per doc."""
    from .keyphrase import tfidf_topk
    return tfidf_topk(docs, n).select("doc_id", F.col("term").alias("gold"))


def kea_features(docs: DataFrame,
                 stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    """(doc_id, candidate, tfidf, pos_norm) — Kea's two features over
    run candidates."""
    # lazy checkpoint: cand_df and the feature join both consume the
    # run-candidate DAG
    c = candidate_runs(docs, stoplist).localCheckpoint(eager=False)
    nrow = docs.agg(F.count("*").cast("double").alias("n"))
    cand_df = c.groupBy("candidate").agg(F.count("*").alias("df"))
    from ..tokenizer import tokens_exploded
    dl = tokens_exploded(docs).groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    return (c.join(cand_df, "candidate").join(dl, "doc_id")
            .crossJoin(F.broadcast(nrow))
            .select("doc_id", "candidate",
                    (F.col("tf") * F.log2((F.col("n") + 1.0)
                                          / (F.col("df") + 1.0))).alias("tfidf"),
                    (F.col("first_offset") / F.col("doc_len")).alias("pos_norm")))


_LAST_VEC: list = []


def kea_fit_predict(docs: DataFrame, k: int = 5,
                    stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    """Train NB on weak gold labels, rank candidates by P(keyphrase)."""
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import VectorAssembler

    feats = kea_features(docs, stoplist)
    gold = weak_gold(docs)
    labeled = (feats.join(gold, (feats.doc_id == gold.doc_id)
                          & (feats.candidate == gold.gold), "left")
               .select(feats.doc_id, feats.candidate, "tfidf", "pos_norm",
                       F.when(gold.gold.isNotNull(), 1.0).otherwise(0.0)
                       .alias("label")))
    asm = VectorAssembler(inputCols=["tfidf", "pos_norm"],
                          outputCol="features")
    # cached: fit() is an action over the whole feature DAG and the
    # returned ranking would re-evaluate it; one cached copy, previous
    # unpersisted per call (shared helper, ops/_cache.py)
    vec = cache_latest(asm.transform(labeled), _LAST_VEC)
    # multinomial NB needs non-negative features; both are >= 0
    model = NaiveBayes(smoothing=1.0, modelType="multinomial",
                       featuresCol="features", labelCol="label").fit(vec)
    pred = model.transform(vec)
    p1 = F.round(vector_elem(pred["probability"], 1), 6).alias("p_keyphrase")
    w = Window.partitionBy("doc_id").orderBy(F.desc("p_keyphrase"),
                                             F.asc("candidate"))
    return (pred.select("doc_id", "candidate", p1)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "candidate", "p_keyphrase"))


def vector_elem(col, i: int):
    """Extract element i of an ml Vector column."""
    from pyspark.ml.functions import vector_to_array
    return vector_to_array(col)[i]


def scale_minmax(df: DataFrame, cols: list[str]) -> DataFrame:
    """A11 (pke/supervised/api.py:27-34): MinMax-scale feature columns
    to [0,1] — global min/max as a broadcast 1-row aggregate, then pure
    column math (constant columns map to 0, sklearn's convention)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    g = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(g))
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        out = out.withColumn(
            c, F.when(hi > lo, (F.col(c) - lo) / (hi - lo)).otherwise(F.lit(0.0)))
    return out.drop(*[f"__min_{c}" for c in cols],
                    *[f"__max_{c}" for c in cols])


def _fit_nb(labeled: DataFrame):
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import VectorAssembler
    asm = VectorAssembler(inputCols=["tfidf", "pos_norm"],
                          outputCol="features")
    model = NaiveBayes(smoothing=1.0, modelType="multinomial",
                       featuresCol="features", labelCol="label") \
        .fit(asm.transform(labeled))
    return asm, model


def _label(feats: DataFrame, gold: DataFrame) -> DataFrame:
    """features left-join gold -> label column (utils.py:205-211)."""
    return (feats.join(gold, (feats.doc_id == gold.doc_id)
                       & (feats.candidate == gold.gold), "left")
            .select(feats.doc_id, feats.candidate, "tfidf", "pos_norm",
                    F.when(gold.gold.isNotNull(), 1.0).otherwise(0.0)
                    .alias("label")))


def kea_fit_predict_loo(docs: DataFrame, gold: DataFrame, k: int = 5,
                        stoplist: tuple[str, ...] = TEXT_STOPWORDS,
                        minmax: bool = False) -> DataFrame:
    """M5 leave-one-out: for every document, train NB on all OTHER
    documents' labeled candidates (features ⋈ gold with the held-out
    doc filtered, pke/utils.py:221-231) and rank the held-out doc's
    candidates. The fold loop is a driver loop over the (small) eval
    corpus, exactly the reference's shape; each fold's fit/transform is
    distributed. ``gold`` = (doc_id, gold) as from gold.load_references
    (doc_id type must match ``docs``)."""
    from functools import reduce

    feats = kea_features(docs, stoplist)
    if minmax:
        feats = scale_minmax(feats, ["tfidf", "pos_norm"])
    # held in the module holder, NOT unpersisted before return: the
    # returned union is lazy, and releasing the cache here would
    # re-trigger the full feature DAG once per fold at collect time
    feats = cache_latest(feats, _LAST_VEC)
    doc_ids = [r.doc_id for r in
               docs.select("doc_id").distinct().orderBy("doc_id").collect()]
    outs = []
    for d in doc_ids:
        labeled = _label(feats.filter(F.col("doc_id") != d),
                         gold.filter(gold.doc_id != d))
        asm, model = _fit_nb(labeled)
        held = _label(feats.filter(F.col("doc_id") == d),
                      gold.filter(gold.doc_id == d))
        pred = model.transform(asm.transform(held))
        # a fold whose training half has no positive label yields a
        # 1-class NB (probability vector of length 1) -> null-tolerant
        # get, constant 0 probability, deterministic candidate-ASC order
        from pyspark.ml.functions import vector_to_array
        p1 = F.round(F.coalesce(F.get(vector_to_array(pred["probability"]),
                                      F.lit(1)), F.lit(0.0)), 6) \
            .alias("p_keyphrase")
        w = Window.partitionBy("doc_id").orderBy(F.desc("p_keyphrase"),
                                                 F.asc("candidate"))
        outs.append(pred.select("doc_id", "candidate", p1)
                    .withColumn("rank", F.row_number().over(w).cast("int"))
                    .filter(F.col("rank") <= k)
                    .select("doc_id", "rank", "candidate", "p_keyphrase"))
    return reduce(lambda a, b: a.unionByName(b), outs)


def eval_prf_gold(docs: DataFrame, pred: DataFrame,
                  gold: DataFrame) -> DataFrame:
    """M7 against a REAL gold set: micro-averaged P/R/F of
    (doc_id, candidate) predictions vs (doc_id, gold)."""
    tp = pred.join(gold, (pred.doc_id == gold.doc_id)
                   & (pred.candidate == gold.gold)).count()
    np_, ng = pred.count(), gold.count()
    p = tp / np_ if np_ else 0.0
    r = tp / ng if ng else 0.0
    f = 2 * p * r / (p + r) if (p + r) else 0.0
    return rows_df(
        docs.sparkSession,
        [(tp, np_, ng, round(p, 6), round(r, 6), round(f, 6))],
        "tp long, n_pred long, n_gold long, precision double, "
        "recall double, f1 double")


def eval_prf(docs: DataFrame, k: int = 5,
             stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> DataFrame:
    """Micro-averaged P/R/F@k of FirstPhrases predictions vs the weak
    gold set (M7) — one summary row."""
    from .keyphrase import firstphrases
    pred = firstphrases(docs, k, stoplist).select("doc_id", "candidate")
    gold = weak_gold(docs)
    # ONE action for all three counts (three .count() calls = three
    # jobs, each re-evaluating its input DAG)
    stats = (pred.join(gold, (pred.doc_id == gold.doc_id)
                       & (pred.candidate == gold.gold))
             .agg(F.count("*").alias("tp"))
             .crossJoin(pred.agg(F.count("*").alias("n_pred")))
             .crossJoin(gold.agg(F.count("*").alias("n_gold")))).first()
    tp, np_, ng = int(stats.tp), int(stats.n_pred), int(stats.n_gold)
    p = tp / np_ if np_ else 0.0
    r = tp / ng if ng else 0.0
    f = 2 * p * r / (p + r) if (p + r) else 0.0
    return rows_df(
        docs.sparkSession,
        [(tp, np_, ng, round(p, 6), round(r, 6), round(f, 6))],
        "tp long, n_pred long, n_gold long, precision double, "
        "recall double, f1 double")


def eval_prf_sql(k: int = 5,
                 stoplist: tuple[str, ...] = TEXT_STOPWORDS) -> str:
    return f"""WITH {_cands_cte(stoplist)},
fp AS (
  SELECT doc_id, candidate,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY first_offset ASC, candidate ASC) AS rnk
  FROM cands),
pred AS (SELECT doc_id, candidate FROM fp WHERE rnk <= {k}),
tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tc GROUP BY 1),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
gold_r AS (
  SELECT tc.doc_id, tc.term,
         row_number() OVER (PARTITION BY tc.doc_id
           ORDER BY round(tc.tf * log2((nn.n + 1.0) / (s.df + 1.0)), 6) DESC,
                    tc.term ASC) AS rnk
  FROM tc JOIN stats s USING (term) CROSS JOIN nn),
gold AS (SELECT doc_id, term AS gold FROM gold_r WHERE rnk <= 3),
tp AS (SELECT count(*)::BIGINT AS tp FROM pred p
       JOIN gold g ON p.doc_id = g.doc_id AND p.candidate = g.gold),
cnt AS (SELECT (SELECT count(*)::BIGINT FROM pred) AS n_pred,
               (SELECT count(*)::BIGINT FROM gold) AS n_gold)
SELECT tp.tp, cnt.n_pred, cnt.n_gold,
       round(tp.tp / cnt.n_pred, 6) AS precision,
       round(tp.tp / cnt.n_gold, 6) AS recall,
       round(CASE WHEN tp.tp = 0 THEN 0.0
             ELSE 2.0 * (tp.tp / cnt.n_pred) * (tp.tp / cnt.n_gold)
                  / (tp.tp / cnt.n_pred + tp.tp / cnt.n_gold) END, 6) AS f1
FROM tp CROSS JOIN cnt"""
