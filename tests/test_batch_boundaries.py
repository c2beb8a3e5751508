"""A term's fragments cut across Arrow batches.

``compact`` and ``compact_positions`` merge fragments one Arrow batch at
a time, and Spark cuts a partition into batches every
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, wherever a term's
rows lie. With batches of 7 rows and terms of up to 16 fragments, most
merged terms straddle a cut. After both merges the decoded postings and
positions must equal those before, and every merged term must be one
row. The decodes here use the scalar per-block decoders of the serving
path, not the segmented kernels the merges run on."""

from __future__ import annotations

import random

import numpy as np
import pyarrow.parquet as pq
import pytest

from pke_spark.index import codec
from pke_spark.index import positions as PX
from pke_spark.index.build import build_index, compact, postings_path

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
VOCAB = [f"w{i:02d}" for i in range(24)]


@pytest.fixture
def small_batches(spark):
    old = spark.conf.get(BATCH_KEY)
    spark.conf.set(BATCH_KEY, "7")
    yield
    spark.conf.set(BATCH_KEY, old)


def _docs(spark):
    rnd = random.Random(7)
    rows = [(1000 + 37 * i, " ".join(rnd.choice(VOCAB)
                                     for _ in range(rnd.randint(3, 25))))
            for i in range(120)]
    return spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(16)


def _postings(index_dir):
    """term -> sorted [(doc, tf, dl)], and term -> row count."""
    tbl = pq.read_table(postings_path(index_dir)).to_pydict()
    got, rows = {}, {}
    for term, blocks in zip(tbl["term"], tbl["blocks"]):
        d, tf, dl = codec.decode_blocks(blocks)
        got.setdefault(term, []).extend(zip(d.tolist(), tf.tolist(),
                                            dl.tolist()))
        rows[term] = rows.get(term, 0) + 1
    return {t: sorted(v) for t, v in got.items()}, rows


def _positions(index_dir):
    """term -> sorted [(doc, positions)], and term -> row count."""
    tbl = pq.read_table(PX.positions_dir(index_dir)).to_pydict()
    got, rows = {}, {}
    for term, blocks in zip(tbl["term"], tbl["blocks"]):
        for b in blocks:
            d, tf, p = PX._decode_pos_block(b)
            cut = np.cumsum(tf)[:-1]
            got.setdefault(term, []).extend(
                (doc, tuple(ps.tolist()))
                for doc, ps in zip(d.tolist(), np.split(p, cut)))
        rows[term] = rows.get(term, 0) + 1
    return {t: sorted(v) for t, v in got.items()}, rows


@pytest.mark.timeout(600)
def test_merges_join_terms_cut_across_arrow_batches(spark, tmp_path,
                                                    small_batches):
    d = str(tmp_path / "ix")
    docs = _docs(spark)
    build_index(docs, d, n_parts=16, n_salts=1)
    PX.build_positions(docs, d, n_salts=1)
    before, rows_before = _postings(d)
    pos_before, pos_rows_before = _positions(d)
    # the input must be fragmented past one batch for the test to bite
    assert max(rows_before.values()) > 7
    assert max(pos_rows_before.values()) > 7

    compact(spark, d)
    PX.compact_positions(spark, d)
    after, rows_after = _postings(d)
    pos_after, pos_rows_after = _positions(d)

    assert after == before
    assert pos_after == pos_before
    assert set(rows_after.values()) == {1}
    assert set(pos_rows_after.values()) == {1}


def _cut(keys, dfs, cuts):
    """One batch per slice between consecutive cut points."""
    import pyarrow as pa
    tbl = pa.table({"term": keys, "df": pa.array(dfs, pa.int64())})
    bounds = [0, *cuts, len(keys)]
    return [tbl.slice(a, b - a).combine_chunks().to_batches()[0]
            if b > a else tbl.slice(0, 0).to_batches()[0]
            for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("seed", range(40))
def test_whole_groups_cut_anywhere(seed):
    """Every group under ``max_merge_docs`` comes out whole in one
    batch; a group over it streams out in pieces flagged not whole,
    so no batch out holds more than the cap plus one batch in."""
    from pke_spark.index.build import _merge_plan, _whole_groups
    rnd = random.Random(seed)
    keys, dfs = [], []
    for g in range(rnd.randint(1, 12)):
        n = rnd.choice([1, 2, 3, 9, 40])
        keys += [f"t{g:02d}"] * n
        dfs += [rnd.randint(1, 5) for _ in range(n)]
    cap, batch = rnd.choice([4, 20, 1000]), rnd.randint(1, 8)
    cuts = sorted(rnd.sample(range(1, len(keys)), min(len(keys) - 1,
                                                      len(keys) // batch)))
    widest = max(b - a for a, b in zip([0, *cuts], [*cuts, len(keys)]))
    total = {}
    for k, df in zip(keys, dfs):
        total[k] = total.get(k, 0) + df

    out = list(_whole_groups(_cut(keys, dfs, cuts), ["term"], cap))
    assert [k for b, _ in out for k in b.column("term").to_pylist()] == keys
    seen = {}
    for b, whole in out:
        for k in set(b.column("term").to_pylist()):
            seen.setdefault(k, []).append(whole)
        assert sum(b.column("df").to_pylist()) <= cap + 5 * widest
    for k, flags in seen.items():
        if total[k] <= cap:
            assert flags == [True], k

    merged = {}
    for keep, sub, sizes in _merge_plan(_cut(keys, dfs, cuts), ["term"],
                                        cap):
        assert sum(sizes) == sub.num_rows
        for k in sub.column("term").to_pylist():
            merged[k] = merged.get(k, 0) + 1
    assert merged == {k: keys.count(k) for k in total
                      if keys.count(k) > 1 and total[k] <= cap}
