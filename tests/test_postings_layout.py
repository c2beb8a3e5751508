"""Postings layout: every writer produces term-sorted files with bounded
row groups carrying ``term`` min/max statistics, and ``IndexReader``
routes dictionary and postings misses through those statistics.

1. every postings writer (dense and staged ``build_index``, the teed
   build, ``build_index_direct``, ``compact``, ``purge_deleted``, the
   incremental fold) writes the layout;
2. an index whose postings are unsorted (an older or foreign writer) —
   one statistics-free row group, many row groups whose term ranges
   all overlap, or narrow groups mixed with whole-vocabulary ones —
   serves exactly what the sorted index serves;
3. a warm rare-term miss reads at most one row group per postings file,
   and an expansion over the whole dictionary streams it rather than
   holding it;
4. terms containing ``'`` and terms longer than 64 bytes on a row-group
   edge are found.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pke_spark import streaming
from pke_spark.index import codec
from pke_spark.index import serving as SV
from pke_spark.index.build import (POSTINGS_ROW_GROUP_ROWS, POSTINGS_SCHEMA,
                                   IndexReader, build_index,
                                   build_index_direct, build_index_teed,
                                   compact, postings_path, write_postings,
                                   write_stats)
from pke_spark.index.delete import delete_docs, purge_deleted

N_DOCS = 300
COMMON = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
          "lambda"]
# longer than parquet-mr's 64-byte column-index truncation length
LONG = "verylongidentifier" * 4


def _word(i: int) -> str:
    s = ""
    i += 26 ** 3
    while i:
        i, r = divmod(i, 26)
        s = chr(97 + r) + s
    return s


def _texts(seed: int, n: int) -> list[tuple[int, str]]:
    """Docs of mostly rare words (so the postings hold several row
    groups per file), a few common words (multi-fragment terms) and
    some words longer than 64 bytes."""
    rng = np.random.default_rng(seed)
    out = []
    for d in range(n):
        words = [_word(int(w)) for w in rng.integers(0, 40_000, 40)]
        words += list(rng.choice(COMMON, 6))
        words += [f"{LONG}{_word(int(w))}" for w in rng.integers(0, 400, 3)]
        out.append((int(d) * 7919 + 13, " ".join(words)))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(_texts(5, N_DOCS), "doc_id long, text string")
    return df.repartition(4).cache()


def _assert_layout(postings_dir: str) -> None:
    files = sorted(glob.glob(f"{postings_dir}/*.parquet"))
    assert files
    n_groups = 0
    for f in files:
        md = pq.read_metadata(f)
        keys = list(zip(*(pq.read_table(f, columns=["term", "shard"])
                          .column(c).to_pylist() for c in ("term", "shard"))))
        assert keys == sorted(keys), f"{f} not sorted by (term, shard)"
        start = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            assert rg.num_rows <= POSTINGS_ROW_GROUP_ROWS
            st = rg.column(0).statistics
            assert rg.column(0).path_in_schema == "term"
            assert st is not None and st.has_min_max
            assert st.min == keys[start][0]
            assert st.max == keys[start + rg.num_rows - 1][0]
            start += rg.num_rows
        n_groups += md.num_row_groups
    # the bound binds: some file holds more than one row group
    assert n_groups > len(files)


def _build_dense(spark, docs, d):
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True)


def _build_staged(spark, docs, d):
    build_index(docs, d, n_parts=4, n_salts=4, parts_per_job=1)


def _build_teed(spark, docs, d):
    build_index_teed(docs, d, n_parts=4, n_salts=4)


def _build_direct(spark, docs, d):
    build_index_direct(docs, d, n_salts=4)


def _compact(spark, docs, d):
    build_index(docs, d, n_parts=4, n_salts=4)
    compact(spark, d, max_merge_docs=N_DOCS)


def _purge(spark, docs, d):
    build_index(docs, d, n_parts=4, n_salts=4)
    delete_docs(spark, d, [13, 7919 * 5 + 13, 7919 * 77 + 13])
    assert purge_deleted(spark, d) == 3


def _fold(spark, docs, d):
    build_index(docs.filter("doc_id % 2 = 0"), d, n_parts=4, n_salts=4)
    streaming.append_batch(docs.filter("doc_id % 2 = 1"), d, epoch_id=0,
                           n_parts=4)
    streaming.refresh_postings(spark, d, n_salts=4, incremental=True)


@pytest.mark.parametrize("writer", [_build_dense, _build_staged, _build_teed,
                                    _build_direct, _compact, _purge, _fold],
                         ids=["build_dense", "build_staged", "teed", "direct",
                              "compact", "purge_deleted", "incremental_fold"])
def test_every_postings_writer_produces_the_layout(spark, docs, tmp_path,
                                                   writer):
    d = str(tmp_path / "ix")
    writer(spark, docs, d)
    _assert_layout(postings_path(d))


@pytest.fixture(scope="module")
def sorted_ix(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sorted"))
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True)
    return d


def _rewrite_unsorted(sorted_ix: str, dest: str, order, **write_opts) -> str:
    """Copy of the index with its postings rewritten by pyarrow as one
    file whose rows follow ``order`` (a permutation of the sorted
    rows)."""
    shutil.copytree(sorted_ix, dest)
    pdir = postings_path(dest)
    files = sorted(glob.glob(f"{pdir}/*.parquet"))
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    tbl = tbl.sort_by([("term", "ascending"), ("shard", "ascending")])
    tbl = tbl.take(order(tbl.num_rows))
    for f in files:
        os.remove(f)
    pq.write_table(tbl, f"{pdir}/part-00000-legacy.parquet", **write_opts)
    return f"{pdir}/part-00000-legacy.parquet"


def _shuffled(n: int) -> np.ndarray:
    return np.random.default_rng(3).permutation(n)


def _ends_swapped(n: int) -> np.ndarray:
    """Sorted, except the first and last 8 rows trade places: the first
    and last row groups span the whole vocabulary, every other group
    is narrow. The groups' maxima are then not ordered like their
    minima, which is what the reader's running max (``reach``) is for."""
    order = np.arange(n)
    order[:8], order[-8:] = np.arange(n - 8, n), np.arange(8)
    return order


@pytest.fixture(scope="module")
def legacy_ix(sorted_ix, tmp_path_factory):
    """The same index with its postings rewritten as ONE unsorted row
    group without statistics."""
    d = str(tmp_path_factory.mktemp("legacy") / "ix")
    f = _rewrite_unsorted(sorted_ix, d, _shuffled, row_group_size=1 << 30,
                          write_statistics=False)
    md = pq.read_metadata(f)
    assert md.num_row_groups == 1
    assert not md.row_group(0).column(0).is_stats_set
    return d


@pytest.fixture(scope="module")
def legacy_stats_ix(sorted_ix, tmp_path_factory):
    """The same index with its postings rewritten unsorted in 64-row
    groups WITH ``term`` statistics — what an unsorted parquet-mr writer
    leaves: many row groups whose term ranges all overlap."""
    d = str(tmp_path_factory.mktemp("legacy_stats") / "ix")
    f = _rewrite_unsorted(sorted_ix, d, _shuffled, row_group_size=64,
                          write_statistics=True)
    md = pq.read_metadata(f)
    assert md.num_row_groups >= 160
    assert all(md.row_group(g).column(0).statistics.has_min_max
               for g in range(md.num_row_groups))
    return d


@pytest.fixture(scope="module")
def wide_ends_ix(sorted_ix, tmp_path_factory):
    """The same index in 128-row groups with statistics, sorted but for
    two row groups that span the whole vocabulary (``_ends_swapped``)."""
    d = str(tmp_path_factory.mktemp("wide_ends") / "ix")
    f = _rewrite_unsorted(sorted_ix, d, _ends_swapped, row_group_size=128,
                          write_statistics=True)
    md = pq.read_metadata(f)
    st = [md.row_group(g).column(0).statistics
          for g in range(md.num_row_groups)]
    assert st[0].max > st[1].max and st[-1].min < st[-2].min
    return d


def _vocab(ix_dir: str) -> list[str]:
    return sorted({t for f in glob.glob(f"{postings_path(ix_dir)}/*.parquet")
                   for t in pq.read_table(f, columns=["term"])
                   .column("term").to_pylist()})


@pytest.mark.parametrize("legacy",
                         ["legacy_ix", "legacy_stats_ix", "wide_ends_ix"],
                         ids=["one_group_no_stats", "overlapping_groups",
                              "wide_end_groups"])
def test_unsorted_postings_serve_identically(spark, sorted_ix, legacy,
                                             request):
    legacy_dir = request.getfixturevalue(legacy)
    new, old = IndexReader(spark, sorted_ix), IndexReader(spark, legacy_dir)
    vocab = _vocab(sorted_ix)

    def same_postings(terms):
        a, b = new.decoded_postings(terms), old.decoded_postings(terms)
        for t in terms:
            order_a, order_b = np.argsort(a[t][0]), np.argsort(b[t][0])
            for x, y in zip(a[t], b[t]):
                assert np.array_equal(x[order_a], y[order_b]), t

    # one term per call while the caches are cold: each term's own
    # candidate row groups must hold all of its rows (the vocabulary's
    # ends are the rows the wide row groups took)
    for t in vocab[:8] + vocab[-8:]:
        assert new.term_dfs([t]) == old.term_dfs([t]), t
        same_postings([t])
    probe = vocab[::37] + COMMON + ["nosuchterm", "zzzz"]
    assert new.term_dfs(probe) == old.term_dfs(probe)
    assert sum(new.term_dfs(vocab).values()) == \
        sum(old.term_dfs(vocab).values())
    same_postings(probe)
    for p in ["a", "ba", "verylong", "q", "zz"]:
        assert SV.expand_prefix_indexed(new, p) == \
            SV.expand_prefix_indexed(old, p)
    for t, e, pl in [("alpah", 1, 1), ("gamma", 2, 0), ("bcdf", 1, 1)]:
        assert SV.expand_fuzzy_indexed(new, t, e, pl) == \
            SV.expand_fuzzy_indexed(old, t, e, pl)
    for w in ["al*a", "g*ma", "b?d*", "verylong*d"]:
        assert SV.expand_wildcard_indexed(new, w) == \
            SV.expand_wildcard_indexed(old, w)
    for r in ["ka.*", "[bd]e.*", ".*ta", "bc[a-z]+"]:
        assert SV.expand_regex_indexed(new, r) == \
            SV.expand_regex_indexed(old, r)
    for qs in ["alpha beta", "+gamma -delta", "bc* omega", "alpah~1",
               "verylong* sigma", "ka*a", "/b[a-z]d.*/", vocab[5]]:
        assert SV.querystring_search_indexed(new, qs, k=10) == \
            SV.querystring_search_indexed(old, qs, k=10), qs


def test_warm_rare_miss_reads_one_row_group_per_file(spark, sorted_ix,
                                                     monkeypatch):
    ix = IndexReader(spark, sorted_ix)
    files = glob.glob(f"{postings_path(sorted_ix)}/*.parquet")
    assert sum(pq.read_metadata(f).num_row_groups for f in files) \
        > len(files)
    tbl = pa.concat_tables(pq.read_table(f, columns=["term", "df"])
                           for f in files)
    dfs = tbl.group_by("term").aggregate([("df", "sum")]).to_pydict()
    rare = sorted(t for t, df in zip(dfs["term"], dfs["df_sum"]) if df == 1)
    ix.term_dfs([rare[0]])  # warm: the footer index is built
    calls = []
    real = IndexReader._read_row_group

    def counted(self, f, g, columns):
        calls.append((f.path, g))
        return real(self, f, g, columns)

    monkeypatch.setattr(IndexReader, "_read_row_group", counted)
    for t in rare[len(rare) // 3::97][:6]:
        calls.clear()
        assert ix.term_dfs([t]) == {t: 1}
        assert 1 <= len(calls) <= len(files)
        assert len({p for p, _g in calls}) == len(calls)
        calls.clear()
        assert len(ix.decoded_postings([t])[t][0]) == 1
        assert 1 <= len(calls) <= len(files)
        assert len({p for p, _g in calls}) == len(calls)


def test_unbounded_expansion_streams_the_dictionary(spark, legacy_stats_ix,
                                                    monkeypatch):
    """A regex with no literal prefix covers every row group. The
    expansion filters each group as it is read and keeps only its
    matches, so the Arrow memory still held when a row group is read is
    the matches so far, never the groups read so far."""
    ix = IndexReader(spark, legacy_stats_ix)
    ix.term_dfs(["alpha"])  # warm: footer index and DuckDB connection
    pool = pa.system_memory_pool()
    base = pool.bytes_allocated()
    held, sizes = [], []
    real = IndexReader._read_row_group

    def counted(self, f, g, columns):
        held.append(pool.bytes_allocated() - base)
        tbl = real(self, f, g, columns)
        sizes.append(tbl.nbytes)
        return tbl

    monkeypatch.setattr(IndexReader, "_read_row_group", counted)
    got = SV.expand_regex_indexed(ix, ".*ta", max_expansions=1000)
    assert got and all(t.endswith("ta") for t in got)
    n_groups = pq.read_metadata(glob.glob(
        f"{postings_path(legacy_stats_ix)}/*.parquet")[0]).num_row_groups
    assert len(sizes) == n_groups >= 160
    assert max(held) <= 64 * max(sizes) < sum(sizes) // 2


def test_quoted_and_long_terms_on_row_group_edges(spark, tmp_path):
    """A hand-written postings file: terms with ``'`` (the SQL escaping
    the reader no longer does) and terms longer than 64 bytes (a
    truncated statistic would misplace them) at every row-group edge."""
    n_terms = 2 * POSTINGS_ROW_GROUP_ROWS + 300
    terms = [f"{LONG}{i:05d}" + ("'s" if i % 2 else "")
             for i in range(n_terms)]
    rows = []
    for i, t in enumerate(terms):
        docs = np.arange(i % 3 + 1, dtype=np.int64) * 11 + i
        tfs = np.full(len(docs), 2, np.int64)
        dls = np.full(len(docs), 9, np.int64)
        rows.append((t, 0, len(docs), int(tfs.sum()),
                     codec.encode_blocks(docs, tfs, dls, 32)))
    d = str(tmp_path / "ix")
    write_postings(spark.createDataFrame(rows, POSTINGS_SCHEMA).coalesce(1),
                   f"{d}/postings")
    write_stats(d, n_terms + 30, 9.0, 1000, 32)

    (f,) = glob.glob(f"{d}/postings/*.parquet")
    md = pq.read_metadata(f)
    assert md.num_row_groups >= 3
    edges = {s for g in range(md.num_row_groups)
             for s in (md.row_group(g).column(0).statistics.min,
                       md.row_group(g).column(0).statistics.max)}
    assert any("'" in t for t in edges)
    assert all(len(t.encode()) > 64 for t in edges)

    ix = IndexReader(spark, d)
    want = {t: i % 3 + 1 for i, t in enumerate(terms) if t in edges}
    assert ix.term_dfs(sorted(edges)) == want
    got = ix.decoded_postings(sorted(edges))
    for t, df in want.items():
        i = terms.index(t)
        assert got[t][0].tolist() == [i + 11 * j for j in range(df)]
    assert ix.term_dfs([f"{LONG}00001'", f"{LONG}00001's'"]) == {}
    assert SV.expand_prefix_indexed(ix, f"{LONG}0204") == sorted(
        (t for t in terms if t.startswith(f"{LONG}0204")),
        key=lambda t: (-(terms.index(t) % 3 + 1), t))[:32]
