"""Edge inputs through every per-doc ranker and every index ranker:
k <= 0 returns zero rows, as the SQL twins' ``rank <= k`` filter does
(a Python ``[:k]`` slice with k < 0 would keep all but |k|
candidates), and a row with null or empty text ranks nothing and
breaks nothing."""

from __future__ import annotations

import pytest

from pke_spark.index import serving, wand
from pke_spark.index.build import IndexReader, build_index
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


# every index entry point, on a term matching more than 512 docs (past
# the small-input sort of the top-k selection)
INDEX_RANKERS = {
    "search": lambda ix, k: wand.search(ix, ["common"], k),
    "wand_topk": lambda ix, k: wand.wand_topk(
        ix, ["common", "w1"], k).collect(),
    "boolean_search": lambda ix, k: wand.boolean_search(
        ix, ["common"], ["w2"], ["w3"], k),
    "querystring_search_indexed": lambda ix, k:
        serving.querystring_search_indexed(ix, "+common w1 -w3", k),
    "prefix_search": lambda ix, k: serving.prefix_search(ix, "comm", k),
    "more_like_this_indexed": lambda ix, k:
        serving.more_like_this_indexed(ix, 1, k, min_term_freq=1),
    "querystring_topk_batch": lambda ix, k: serving.querystring_topk_batch(
        ix, {"a": "common w1", "b": "+common -w2"}, k).collect(),
    "bm25_topk_batch": lambda ix, k: wand.bm25_topk_batch(
        ix, {"a": ["common", "w1"], "b": ["common"]}, k).collect(),
}


@pytest.fixture(scope="module")
def common_ix(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [(i, f"common w{i % 5} " + "common " * (i % 3) + f"id{i}")
         for i in range(600)], "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("k_edges_ix"))
    build_index(docs, d, n_parts=2, n_salts=2)
    return IndexReader(spark, d)


@pytest.mark.parametrize("route", ["driver", "distributed"])
@pytest.mark.parametrize("name", sorted(INDEX_RANKERS))
def test_index_rankers_nonpositive_k(common_ix, monkeypatch, name, route):
    if route == "distributed":  # every budget at 0: the Spark plans run
        monkeypatch.setattr(wand, "_fastpath_bound", lambda ix: 0)
        monkeypatch.setattr(serving, "BATCH_DRIVER_MAX_ROWS", 0)
    rank = INDEX_RANKERS[name]
    assert len(rank(common_ix, 5)) > 0  # the query does rank
    for k in (0, -1):
        assert len(rank(common_ix, k)) == 0, k
