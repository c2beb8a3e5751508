"""Tombstone deletes + purge (pke_spark/index/delete.py).

Contract under test (module docstring of delete.py):
- after delete_docs, every query path (exhaustive, WAND, driver
  fast path, batch) drops the deleted docs but keeps BUILD-TIME
  collection statistics (Lucene docCount-includes-deletes semantics):
  surviving docs keep their original scores, so the expected ranking
  is the full-corpus oracle ranking minus the deleted docs;
- after purge_deleted, the postings physically exclude the deleted
  docs and n_docs/avgdl/df are recomputed exactly, so results equal a
  fresh oracle over the surviving corpus;
- dense indexes translate doc_id -> ordinal at delete time and still
  answer queries in raw doc_id space.
"""

from __future__ import annotations

import glob
import shutil

import numpy as np
import pandas as pd
import pytest

from pke_spark import oracle
from pke_spark.corpus import synth_corpus, with_doc_ids
from pke_spark.index import codec
from pke_spark.index.build import IndexReader, build_index
from pke_spark.index.delete import (delete_docs, keep_mask,
                                    load_tombstones, purge_deleted)
from pke_spark.index.wand import (bm25_indexed, bm25_topk_batch, search,
                                  wand_topk)

N_DOCS = 150
QUERIES = [["build", "index"], ["def"], ["return"],
           ["decode", "varint", "cursor"], ["nosuchtermxyz"]]


@pytest.fixture(scope="module")
def corpus(spark):
    c = with_doc_ids(synth_corpus(spark, N_DOCS, partitions=4))
    docs = c.select("doc_id", c.content.alias("text")).limit(N_DOCS).cache()
    pdf = docs.toPandas()
    yield docs, dict(zip(pdf.doc_id, pdf.text))
    docs.unpersist()


def _build(docs, d, dense=False):
    build_index(docs, d, n_parts=4, n_salts=4, hot_threshold=50,
                block_size=32, dense_doc_ids=dense)


def _deleted_set(texts):
    """Delete docs that MATTER: the top-2 of each test query, so a
    filter that silently no-ops fails loudly."""
    out = set()
    for q in QUERIES:
        want = oracle.bm25_topk(texts, q, 2)
        out.update(int(d) for d in want.doc_id)
    return sorted(out)


def _expected_predelete(texts, deleted, q, k=10):
    """Full-corpus oracle ranking (build-time stats) minus deleted."""
    full = oracle.bm25_topk(texts, q, k=len(texts))
    keep = full[~full.doc_id.isin(deleted)].head(k).reset_index(drop=True)
    keep["rank"] = pd.array(range(1, len(keep) + 1), dtype="int64")
    return keep[["rank", "doc_id", "score"]]


def test_keep_mask_edges():
    tomb = np.array([3, 9, 40], dtype=np.int64)
    docs = np.array([-5, 3, 4, 9, 39, 40, 41, 10**12], dtype=np.int64)
    assert keep_mask(docs, tomb).tolist() == [
        True, False, True, False, True, False, True, True]
    assert keep_mask(docs, np.empty(0, np.int64)).all()
    assert not keep_mask(tomb.copy(), tomb).any()


@pytest.fixture(scope="module")
def deleted_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixdel"))
    docs, texts = corpus
    _build(docs, d)
    deleted = _deleted_set(texts)
    n = delete_docs(spark, d, deleted)
    assert n == len(deleted)
    return d, deleted


def test_delete_drops_docs_all_query_paths(corpus, spark, deleted_index):
    _, texts = corpus
    d, deleted = deleted_index
    ix = IndexReader(spark, d)
    assert ix.tombstones().size == len(deleted)
    for q in QUERIES:
        want = _expected_predelete(texts, deleted, q)
        got = bm25_indexed(ix, q, 10).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"bm25_indexed q={q}")
        for fastpath in (False, True):
            got = wand_topk(ix, q, 10, n_buckets=8,
                            driver_fastpath=fastpath).toPandas()
            pd.testing.assert_frame_equal(
                got.astype({"rank": "int64"}), want, check_exact=False,
                atol=1e-9, obj=f"wand q={q} fast={fastpath}")
        rows = search(ix, q, 10)
        assert [r[1] for r in rows] == want.doc_id.tolist()
    # batch path: all queries in one job
    qset = {f"q{i}": q for i, q in enumerate(QUERIES)}
    batch = bm25_topk_batch(ix, qset, 10).toPandas()
    for i, q in enumerate(QUERIES):
        want = _expected_predelete(texts, deleted, q)
        got = (batch[batch.query_id == f"q{i}"]
               .sort_values("rank").reset_index(drop=True)
               [["rank", "doc_id", "score"]])
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"batch q={q}")


def test_purge_rewrites_postings_and_recomputes_stats(
        corpus, spark, deleted_index, tmp_path):
    _, texts = corpus
    src, deleted = deleted_index
    d = str(tmp_path / "ixp")
    shutil.copytree(src, d)
    applied = purge_deleted(spark, d)
    assert applied == len(deleted)
    # tombstones consumed; physical postings no longer contain them
    assert load_tombstones(d).size == 0
    surviving = {k: v for k, v in texts.items() if k not in set(deleted)}
    ix = IndexReader(spark, d)
    assert ix.tombstones().size == 0
    assert ix.n_docs == len(surviving)
    _, _, dls, _, avgdl = oracle.build_stats(surviving)
    assert ix.n_docs and abs(ix.avgdl - avgdl) < 1e-9
    dead = set(deleted)
    for r in ix.postings().collect():
        docs, _, _ = codec.decode_blocks(r.blocks)
        assert not (set(docs.tolist()) & dead), r.term
    # fresh-stats semantics: equals oracle over the surviving corpus
    for q in QUERIES:
        want = oracle.bm25_topk(surviving, q, 10)
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"post-purge q={q}")


def test_dense_delete_translates_and_matches_sparse(
        corpus, spark, deleted_index, tmp_path):
    _, texts = corpus
    d = str(tmp_path / "ixd")
    docs, _ = corpus
    _build(docs, d, dense=True)
    _, deleted = deleted_index
    # DataFrame bulk form + one unknown id (dropped by the docmap join)
    ids = spark.createDataFrame(
        [(int(x),) for x in deleted] + [(999_999_999_999,)],
        "doc_id long")
    n = delete_docs(spark, d, ids)
    assert n == len(deleted)
    tomb = load_tombstones(d)
    # dense tombstones live in ORDINAL space: small non-negative ints
    assert tomb.size == len(deleted)
    assert tomb.min() >= 0 and tomb.max() < N_DOCS
    ix = IndexReader(spark, d)
    for q in QUERIES[:3]:
        want = _expected_predelete(texts, deleted, q)
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"dense q={q}")
    # purge keeps the docmap (ordinal space unchanged) and stays exact
    applied = purge_deleted(spark, d)
    assert applied == len(deleted)
    surviving = {k: v for k, v in texts.items() if k not in set(deleted)}
    ix2 = IndexReader(spark, d)
    assert ix2.n_docs == len(surviving)
    for q in QUERIES[:3]:
        want = oracle.bm25_topk(surviving, q, 10)
        got = wand_topk(ix2, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"dense post-purge q={q}")


def test_purge_cleans_segment_checkpoints_no_resurrection(
        corpus, spark, deleted_index, tmp_path):
    """The durable segments/ checkpoint must also drop purged docs —
    otherwise refresh_postings(incremental=False) re-encodes them back
    into the postings (resurrection)."""
    from pke_spark import streaming
    _, texts = corpus
    src, deleted = deleted_index
    d = str(tmp_path / "ixr")
    shutil.copytree(src, d)
    purge_deleted(spark, d)
    seg = spark.read.parquet(f"{d}/segments")
    assert seg.filter(seg.doc_id.isin([int(x) for x in deleted])).count() == 0
    streaming.refresh_postings(spark, d, n_salts=4, hot_threshold=50,
                               block_size=32, incremental=False)
    surviving = {k: v for k, v in texts.items() if k not in set(deleted)}
    ix = IndexReader(spark, d)
    assert ix.n_docs == len(surviving)
    for q in QUERIES[:3]:
        want = oracle.bm25_topk(surviving, q, 10)
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"post-refresh q={q}")


def test_full_refresh_applies_outstanding_tombstones(
        corpus, spark, deleted_index, tmp_path):
    """refresh_postings(incremental=False) with tombstones outstanding
    = purge: segments filtered, stats exact, tombstones consumed."""
    from pke_spark import streaming
    _, texts = corpus
    src, deleted = deleted_index
    d = str(tmp_path / "ixf")
    shutil.copytree(src, d)  # tombstones present, NOT purged
    assert load_tombstones(d).size == len(deleted)
    streaming.refresh_postings(spark, d, n_salts=4, hot_threshold=50,
                               block_size=32, incremental=False)
    assert load_tombstones(d).size == 0
    surviving = {k: v for k, v in texts.items() if k not in set(deleted)}
    ix = IndexReader(spark, d)
    assert ix.n_docs == len(surviving)
    for q in QUERIES[:3]:
        want = oracle.bm25_topk(surviving, q, 10)
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"refresh-applies q={q}")


def test_update_lifecycle_delete_purge_reappend_fold(
        corpus, spark, tmp_path):
    """Document UPDATE = delete -> purge -> re-append (same doc_id,
    new text) -> incremental fold. The duplicate guard must accept the
    re-append (the purged id is gone from every checkpoint) and
    queries must reflect the NEW text."""
    from pke_spark import streaming
    docs, texts = corpus
    d = str(tmp_path / "ixu")
    _build(docs, d)
    victim = int(sorted(texts)[0])
    delete_docs(spark, d, [victim])
    purge_deleted(spark, d)
    new_text = "zzupdated zzupdated freshly updated document body"
    upd = spark.createDataFrame([(victim, new_text)], "doc_id long, text string")
    streaming.append_batch(upd, d, epoch_id=0, n_parts=4)
    # duplicate guard must NOT raise: the old version was purged
    streaming.refresh_postings(spark, d, n_salts=4, hot_threshold=50,
                               block_size=32, incremental=True)
    expected = dict(texts)
    expected[victim] = new_text
    ix = IndexReader(spark, d)
    assert ix.n_docs == len(expected)
    got = wand_topk(ix, ["zzupdated"], 10, n_buckets=8).toPandas()
    assert got.doc_id.tolist() == [victim]
    for q in QUERIES[:2]:
        want = oracle.bm25_topk(expected, q, 10)
        g = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            g.astype({"rank": "int64"}), want, check_exact=False,
            atol=1e-9, obj=f"post-update q={q}")


def test_delete_empty_and_manifest(spark, corpus, tmp_path):
    docs, _ = corpus
    d = str(tmp_path / "ixm")
    _build(docs, d)
    assert delete_docs(spark, d, []) == 0
    assert load_tombstones(d).size == 0
    some = delete_docs(spark, d, [next(iter(docs.limit(1).collect())).doc_id])
    assert some == 1
    m = spark.read.parquet(f"{d}/manifest")
    assert m.filter(m.phase == "delete").count() == 1
    assert glob.glob(f"{d}/tombstones/del_*/*.parquet")


def test_expansion_df_semantics_with_tombstones(spark, tmp_path):
    """ADVICE r4: index-backed expansions rank by BUILD-TIME df (Lucene
    docFreq semantics — deletes don't touch term stats until a merge),
    so with outstanding tombstones a capped expansion can order
    differently from the live-df corpus twin. Pin both halves of the
    contract: (a) the stale-df ordering is exactly the build-time one
    and purge restores live-df parity; (b) match sets exclude the
    tombstoned docs on every path even before purge."""
    from pke_spark.index import serving as SV
    from pke_spark.ops import termexpand as TE

    # 'ab' appears in 4 docs, 'aa' in 3 — deleting two 'ab' docs makes
    # live df(ab)=2 < df(aa)=3, flipping the (df DESC, term ASC) order
    rows = [(1, "ab x"), (2, "ab y"), (3, "ab z"), (4, "ab aa"),
            (5, "aa q"), (6, "aa r")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "ix")
    build_index(docs, d, n_parts=2, n_salts=2)

    ix = IndexReader(spark, d)
    assert SV.expand_prefix_indexed(ix, "a", 2) == ["ab", "aa"]

    delete_docs(spark, d, [1, 2])
    ix2 = IndexReader(spark, d)
    # (a) stale build-time df still ranks ab first (Lucene docFreq)...
    assert SV.expand_prefix_indexed(ix2, "a", 2) == ["ab", "aa"]
    # ...while the live-df corpus op flips
    survivors = docs.filter(~docs.doc_id.isin([1, 2]))
    live = [r.term for r in TE.expand_prefix(survivors, "a", 2).collect()]
    assert live == ["aa", "ab"]
    # (b) but match sets already exclude tombstoned docs pre-purge
    hit_ids = {doc for _r, doc, _s in SV.prefix_search(ix2, "a", 10)}
    assert hit_ids == {3, 4, 5, 6}
    # purge rewrites postings: df becomes live and parity is restored
    purge_deleted(spark, d)
    ix3 = IndexReader(spark, d)
    assert SV.expand_prefix_indexed(ix3, "a", 2) == live


@pytest.mark.parametrize("dense", [False, True], ids=["sparse", "dense"])
def test_fresh_rebuild_drops_the_old_corpus_tombstones(spark, tmp_path,
                                                       dense):
    """Tombstones name docs of the corpus they were written against (by
    ordinal on a dense index). A fresh build over the same dir replaces
    that corpus, so it must drop them: left behind, the old deletes
    hide the new docs at ordinals (or ids) 0, 1, 2."""
    d = str(tmp_path / "ix")
    old = spark.createDataFrame([(i, f"old words {i}") for i in range(40)],
                                "doc_id long, text string")
    build_index(old, d, n_parts=2, n_salts=2, dense_doc_ids=dense)
    assert delete_docs(spark, d, [0, 1, 2]) == 3
    new = spark.createDataFrame(
        [(i, f"fresh common words {i}") for i in range(40)],
        "doc_id long, text string")
    build_index(new, d, n_parts=2, n_salts=2, dense_doc_ids=dense)
    ix = IndexReader(spark, d)
    assert ix.tombstones().size == 0
    assert len(search(ix, ["common"], 100)) == 40
