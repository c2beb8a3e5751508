"""Edge inputs through every per-doc ranker: k <= 0 returns zero rows,
as the SQL twins' ``rank <= k`` filter does (a Python ``[:k]`` slice
with k < 0 would keep all but |k| candidates), and a row with null or
empty text ranks nothing and breaks nothing."""

from __future__ import annotations

import pytest

from pke_spark.ops import graph, keyphrase, topicrank, tpr, yake

RANKERS = {
    "firstphrases": keyphrase.firstphrases,
    "kpminer": keyphrase.kpminer,
    "kpminer_dedup": keyphrase.kpminer_dedup,
    "yake_lite": yake.yake_lite,
    "yake_full": yake.yake_full,
    "textrank_topk": graph.textrank_topk,
    "textrank_top_percent": graph.textrank_top_percent,
    "singlerank_topk": graph.singlerank_topk,
    "positionrank_topk": graph.positionrank_topk,
    "tfidf_topk": keyphrase.tfidf_topk,
    "topicrank_topk": topicrank.topicrank_topk,
    "multipartiterank_topk": topicrank.multipartiterank_topk,
    "topical_pagerank_topk": lambda docs, k: tpr.topical_pagerank_topk(
        docs, k, model=tpr.load_tpr_cached(docs.sparkSession)),
}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(8).cache()


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize("name", sorted(RANKERS))
def test_nonpositive_k_returns_no_rows(docs, name, k):
    assert RANKERS[name](docs, 5).count() > 0  # the docs do rank
    assert RANKERS[name](docs, k).count() == 0


@pytest.mark.parametrize("name", sorted(RANKERS))
def test_null_and_empty_text_rank_nothing(spark, docs, name):
    blank = spark.createDataFrame(
        [(-1, None, None, None, None), (-2, "", None, None, 0)], docs.schema)
    out = RANKERS[name](docs.unionByName(blank), 5).toPandas()
    assert len(out) > 0
    assert not out["doc_id"].isin([-1, -2]).any()
