"""Every driver-side ordinal translation site on a dense-ordinal index
returns exactly what the same call returns on a raw-id index over the
same corpus, and the resident docmap behind them is validated and loaded
without per-query I/O.

The corpus is sf0.001 with its doc_ids scrambled into the full signed
64-bit range: sf0.001's own ids are 0..n-1, where ordinal and doc_id
coincide and a missed translation would go unnoticed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pke_spark.index import serving as SV
from pke_spark.index import wand
from pke_spark.index.build import (IndexReader, build_index, docmap_path,
                                   postings_path)
from pke_spark.index.positions import build_positions

TERM_QUERIES = [["spark"], ["spark", "join", "window"], ["merge", "slow"],
                ["zzqqxunseen"]]
QS_CASES = [
    "+spark +join window",           # boolean MUST + SHOULD
    "spark -vector",                 # boolean MUST_NOT
    "tab* spark",                    # prefix expansion
    "sor~1 join",                    # fuzzy expansion
    '"merge slow" spark',            # phrase (positional sidecar)
    '"merge slow"~2 join',           # sloppy phrase
    "lang:en spark join",            # metadata filter
    "spark n_chars:[200 TO 1500]",   # metadata range filter
]


@pytest.fixture(scope="module")
def ixs(spark, sf_dir, tmp_path_factory):
    """(raw-id reader, dense reader, documents parquet path)."""
    d = tmp_path_factory.mktemp("dense_tr")
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pdf["doc_id"] = (pdf["doc_id"].to_numpy().astype(np.uint64)
                     * np.uint64(0x9E3779B97F4A7C15)).view(np.int64)
    assert (pdf["doc_id"] < 0).any() and pdf["doc_id"].is_unique
    dp = str(d / "documents.parquet")
    pdf.to_parquet(dp, index=False)
    docs = spark.read.parquet(dp).select("doc_id", "text")
    readers = []
    for dense in (False, True):
        ix_dir = str(d / ("dense" if dense else "raw"))
        build_index(docs, ix_dir, n_parts=8, n_salts=4,
                    dense_doc_ids=dense)
        build_positions(docs, ix_dir, n_salts=4)
        readers.append(IndexReader(spark, ix_dir))
    raw, dense = readers
    assert dense.dense and not raw.dense
    return raw, dense, dp


def test_search_and_boolean_parity(ixs):
    raw, dense, _ = ixs
    hits = 0
    for q in TERM_QUERIES:
        got = wand.search(dense, q, 10)
        assert got == wand.search(raw, q, 10), q
        hits += len(got)
    for must, should, must_not in [(["spark"], ["join"], ["vector"]),
                                   (["merge", "slow"], [], []),
                                   (["zzqqxunseen"], ["spark"], [])]:
        got = wand.boolean_search(dense, must, should, must_not, 10)
        assert got == wand.boolean_search(raw, must, should, must_not,
                                          10), must
        hits += len(got)
    assert hits


@pytest.mark.parametrize("qs", QS_CASES)
def test_querystring_parity(ixs, qs):
    raw, dense, dp = ixs
    got = SV.querystring_search_indexed(dense, qs, 10, docs_parquet=dp)
    assert got, qs
    assert got == SV.querystring_search_indexed(raw, qs, 10,
                                                docs_parquet=dp)


def test_querystring_batch_driver_route_parity(ixs, monkeypatch):
    raw, dense, dp = ixs

    def no_distributed(*_a, **_kw):
        raise AssertionError("batch took the distributed route")

    monkeypatch.setattr(SV, "_bucketed_batch_topk", no_distributed)
    queries = {f"q{i}": qs for i, qs in enumerate(QS_CASES)}

    def rows(ix):
        return sorted(tuple(r) for r in SV.querystring_topk_batch(
            ix, queries, 10, docs_parquet=dp).collect())

    got = rows(dense)
    assert got and got == rows(raw)


@pytest.mark.parametrize("field,asc", [("n_chars", False), ("doc_id", True),
                                       ("doc_id", False)])
def test_querystring_sort_parity(ixs, field, asc):
    raw, dense, dp = ixs
    for qs in ("spark join", '"merge slow" lang:en'):
        got = SV.querystring_sort_indexed(dense, qs, field, asc, 10,
                                          docs_parquet=dp)
        assert got, qs
        assert got == SV.querystring_sort_indexed(raw, qs, field, asc, 10,
                                                  docs_parquet=dp)


def test_facet_counts_parity(ixs):
    raw, dense, dp = ixs
    for terms in (["spark", "join", "window"], ["merge"]):
        got = SV.facet_counts_indexed(dense, terms, "lang", dp)
        assert got, terms
        assert got == SV.facet_counts_indexed(raw, terms, "lang", dp)


def _tampered_reader(spark, src_dir, dst_dir, tamper):
    shutil.copytree(src_dir, dst_dir)
    dm = docmap_path(postings_path(dst_dir))
    t = pq.read_table(dm)
    ords = t.column("ord").to_numpy().copy()
    ids = t.column("doc_id").to_numpy().copy()
    tamper(ords, ids)
    shutil.rmtree(dm)
    os.makedirs(dm)
    pq.write_table(pa.table({"ord": ords, "doc_id": ids}),
                   f"{dm}/part-00000.parquet")
    return IndexReader(spark, dst_dir)


def _gap(ords, _ids):
    ords[len(ords) // 2] = len(ords)  # 0..n-1 with one ordinal lost


def _out_of_order(_ords, ids):
    ids[[3, 4]] = ids[[4, 3]]  # two neighbours swapped


@pytest.mark.parametrize("tamper", [_gap, _out_of_order],
                         ids=["ordinal_gap", "doc_ids_out_of_order"])
def test_tampered_docmap_raises(spark, ixs, tmp_path, tamper):
    _, dense, _ = ixs
    ix = _tampered_reader(spark, dense.index_dir, str(tmp_path / "ix"),
                          tamper)
    with pytest.raises(RuntimeError, match="docmap"):
        wand.search(ix, ["spark", "join"], 10)


def test_warm_dense_queries_open_no_duckdb_connection(spark, ixs,
                                                      monkeypatch):
    import duckdb
    _, dense, dp = ixs
    ix = IndexReader(spark, dense.index_dir)
    ops = [("terms", q) for q in TERM_QUERIES] + \
        [("qs", qs) for qs in QS_CASES]

    def run(op):
        kind, q = op
        if kind == "terms":
            return wand.search(ix, q, 10)
        return SV.querystring_search_indexed(ix, q, 10, docs_parquet=dp)

    for op in ops:  # warm-up: caches fill, the reader connects once
        run(op)
    calls = []
    real = duckdb.connect
    monkeypatch.setattr(duckdb, "connect",
                        lambda *a, **kw: calls.append(a) or real(*a, **kw))
    for i in range(20):
        run(ops[i % len(ops)])
    assert calls == []
