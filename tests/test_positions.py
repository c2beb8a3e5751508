"""Positional sidecar + phrase/proximity queries.

Layers of evidence:
1. codec roundtrip (property-based): random per-doc position lists
   survive block encode/decode bit-exactly, across block boundaries;
2. semantics on a hand-built fixture with independently known answers
   (including a repeated-term phrase and an overlapping-match case);
3. parity: the indexed path (decode sidecar fragments) returns
   row-for-row what the DataFrame path (re-tokenize corpus) returns on
   real sf0.001 data — the DataFrame path itself is oracle-gated
   against DuckDB by the driver (phrase_search* entries);
4. determinism: the query answer is identical when the sidecar is
   built at a different parallelism/partitioning;
5. tombstones: deleted docs drop out of indexed phrase results.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pke_spark.index import positions as PX
from pke_spark.ops import phrase as P


# ------------------------------------------------------------- 1. codec

@settings(max_examples=60, deadline=None)
@given(st.lists(  # per-doc: (doc gap >= 1, positions as sorted uniques)
    st.tuples(st.integers(min_value=1, max_value=1 << 40),
              st.lists(st.integers(min_value=1, max_value=1 << 30),
                       min_size=1, max_size=20, unique=True)),
    min_size=1, max_size=40),
    st.sampled_from([2, 3, 128]))
def test_pos_block_roundtrip(doclists, block_size):
    doc = np.cumsum([g for g, _ in doclists]).astype(np.int64) - (1 << 39)
    tf = np.array([len(p) for _, p in doclists], dtype=np.int64)
    flat = np.concatenate([np.sort(p) for _, p in doclists]).astype(np.int64)
    blocks = PX._encode_pos_runs([len(doc)], doc, tf, flat,
                                 block_size).to_pylist()[0]
    d_all, t_all, p_all = [], [], []
    for b in blocks:
        d, t, p = PX._decode_pos_block(b)
        d_all.append(d)
        t_all.append(t)
        p_all.append(p)
    np.testing.assert_array_equal(np.concatenate(d_all), doc)
    np.testing.assert_array_equal(np.concatenate(t_all), tf)
    np.testing.assert_array_equal(np.concatenate(p_all), flat)


# ---------------------------------------------------------- 2. fixture

FIXTURE = [
    (1, "a b c a b c"),          # "a b" at 1 and 4
    (2, "a a a a"),              # "a a" at 1,2,3 (overlapping); no "a b"
    (3, "b a b a b"),            # "a b" at 2 and 4
    (4, "c c c"),
]


@pytest.fixture(scope="module")
def fix_docs(spark):
    return spark.createDataFrame(FIXTURE, "doc_id long, text string")


def test_phrase_fixture(fix_docs):
    rows = P.phrase_topk(fix_docs, ["a", "b"], 10).collect()
    assert [(r.doc_id, r.phrase_tf) for r in rows] == [(1, 2), (3, 2)]


def test_phrase_repeated_term_overlapping(fix_docs):
    rows = P.phrase_topk(fix_docs, ["a", "a"], 10).collect()
    assert [(r.doc_id, r.phrase_tf) for r in rows] == [(2, 3)]
    rows3 = P.phrase_topk(fix_docs, ["a", "a", "a"], 10).collect()
    assert [(r.doc_id, r.phrase_tf) for r in rows3] == [(2, 2)]


def test_phrase_single_term_is_tf(fix_docs):
    rows = P.phrase_topk(fix_docs, ["c"], 10).collect()
    assert [(r.doc_id, r.phrase_tf) for r in rows] == [(4, 3), (1, 2)]


def test_proximity_fixture(fix_docs):
    # doc 1: a@{1,4}, b@{2,5}: ordered pairs within 2 -> (1,2),(4,5)
    # and window 4 adds (1,5)
    rows = P.proximity_topk(fix_docs, "a", "b", 2, 10).collect()
    got = {r.doc_id: r.pair_count for r in rows}
    assert got[1] == 2
    rows4 = P.proximity_topk(fix_docs, "a", "b", 4, 10).collect()
    got4 = {r.doc_id: r.pair_count for r in rows4}
    assert got4[1] == 3


def test_indexed_matches_fixture(spark, fix_docs):
    with tempfile.TemporaryDirectory(prefix="pos_fix_") as d:
        PX.build_positions(fix_docs, d)
        rows = PX.phrase_topk_indexed(spark, d, ["a", "b"], 10).collect()
        assert [(r.doc_id, r.phrase_tf) for r in rows] == [(1, 2), (3, 2)]
        rows = PX.phrase_topk_indexed(spark, d, ["a", "a"], 10).collect()
        assert [(r.doc_id, r.phrase_tf) for r in rows] == [(2, 3)]


# ------------------------------------------ 3+4. parity and determinism

QUERIES = [
    ["merge", "slow"],
    ["batch", "batch"],
    ["slow", "hash", "batch"],
    ["zzqqxunseen", "merge"],  # miss
]


@pytest.fixture(scope="module")
def sf_sidecar(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="pos_sf_")
    PX.build_positions(docs, d)
    return d, docs


@pytest.mark.parametrize("terms", QUERIES, ids=["2term", "rep", "3term",
                                                "miss"])
def test_indexed_parity_sf(spark, sf_sidecar, terms):
    d, docs = sf_sidecar
    a = PX.phrase_topk_indexed(spark, d, terms, 10).toPandas()
    b = P.phrase_topk(docs, terms, 10).toPandas()
    assert a.equals(b)


def test_proximity_parity_sf(spark, sf_sidecar):
    d, docs = sf_sidecar
    a = PX.proximity_topk_indexed(spark, d, "spark", "join", 5, 10).toPandas()
    b = P.proximity_topk(docs, "spark", "join", 5, 10).toPandas()
    assert a.equals(b)


def test_build_partitioning_invariance(spark, sf_sidecar):
    d, docs = sf_sidecar
    with tempfile.TemporaryDirectory(prefix="pos_rep_") as d2:
        PX.build_positions(docs.repartition(13), d2, n_salts=3)
        for terms in QUERIES:
            a = PX.phrase_topk_indexed(spark, d, terms, 10).toPandas()
            b = PX.phrase_topk_indexed(spark, d2, terms, 10).toPandas()
            assert a.equals(b), terms


def test_incremental_append_equals_full_build(spark, sf_sidecar):
    d, docs = sf_sidecar
    half_a = docs.where("doc_id % 2 = 0")
    half_b = docs.where("doc_id % 2 = 1")
    with tempfile.TemporaryDirectory(prefix="pos_app_") as d2:
        PX.build_positions(half_a, d2)
        PX.append_positions(half_b, d2)
        for terms in QUERIES:
            a = PX.phrase_topk_indexed(spark, d, terms, 10).toPandas()
            b = PX.phrase_topk_indexed(spark, d2, terms, 10).toPandas()
            assert a.equals(b), terms


def test_compact_positions_parity_and_merge(spark, sf_sidecar):
    import pyarrow.dataset as ds
    d, docs = sf_sidecar
    half_a = docs.where("doc_id % 2 = 0")
    half_b = docs.where("doc_id % 2 = 1")
    with tempfile.TemporaryDirectory(prefix="pos_cmp_") as d2:
        PX.build_positions(half_a, d2)
        PX.append_positions(half_b, d2)

        def n_frags(p):
            return sum(f.count_rows() for f in
                       ds.dataset(PX.positions_dir(p), format="parquet")
                       .get_fragments())

        before = n_frags(d2)
        PX.compact_positions(spark, d2)
        after = n_frags(d2)
        assert after < before
        for terms in QUERIES:
            a = PX.phrase_topk_indexed(spark, d, terms, 10).toPandas()
            b = PX.phrase_topk_indexed(spark, d2, terms, 10).toPandas()
            assert a.equals(b), terms


# -------------------------------------------------------- 5. tombstones

def test_tombstoned_docs_excluded(spark, sf_sidecar):
    from pke_spark.index.build import build_index
    from pke_spark.index.delete import delete_docs
    d, docs = sf_sidecar
    top = PX.phrase_topk_indexed(spark, d, ["merge", "slow"], 10).collect()
    assert top
    victim = top[0].doc_id
    with tempfile.TemporaryDirectory(prefix="pos_del_") as ixd:
        build_index(docs.limit(200), ixd)
        PX.build_positions(docs, ixd)
        delete_docs(spark, ixd, [victim])
        ex = PX.tombstoned_doc_ids(spark, ixd)
        assert victim in ex
        rows = PX.phrase_topk_indexed(spark, ixd, ["merge", "slow"], 10,
                                      exclude_doc_ids=ex).collect()
        assert victim not in {r.doc_id for r in rows}
