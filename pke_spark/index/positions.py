"""Positional sidecar index: the ``.pos`` stream of this engine.

Lucene stores term positions in a dedicated file (``.pos``) beside the
doc/freq postings; phrase and proximity queries read it, everything else
never touches it. This module is that sidecar for the LSM index: a
separate fragment table holding, per (term, shard), block-compressed
(doc gaps, tfs, position deltas) — the main postings (build.py) stay
byte-identical whether or not a sidecar exists, so nothing about the
scaling-tuned build paths changes.

Layout mirrors the main index's invariants:

- fragments are ADDITIVE rows per (term, shard): each doc's positions
  for a term live in exactly one fragment (a doc is one input row, so
  it is wholly inside one Arrow batch, which emits at most one fragment
  per term);
- fragments are salted by ``xxhash64(term, first_doc) % n_salts`` — a
  mega-term's fragments spread over n_salts shards with no hot-term
  detection pass, cold terms stay within <= n_salts row groups so
  term-pushdown pruning holds on the read side;
- the directory is versioned (``positions_<uuid>``) behind an atomic
  ``POSITIONS_CURRENT`` pointer swap: a crash mid-rebuild never leaves
  a half-written sidecar visible.

Build is ONE job shaped like ``build_index_direct``: a single composed
mapInArrow pass does tokenize -> per-doc position extraction -> batch
sort -> block encode, and the only shuffle carries COMPRESSED fragments
(at web scale the position stream is the bulk of an index — Lucene's
``.pos`` is routinely 2-3x ``.doc`` — so shuffling it encoded, not as
raw (doc, term, pos) rows, is the difference between shipping ~1 byte
and ~20 bytes per token).

Position encoding per block: positions are concatenated across the
block's docs in doc order; within a doc they are strictly increasing,
so they are delta-encoded (first position of each doc absolute, the
rest gaps) and the per-doc boundaries are implied by the block's tf
stream (doc i contributes exactly tf_i values). Decode is a segmented
cumulative sum — fully vectorized, no per-position Python.

Query semantics are defined (and oracle-gated) in ``pke_spark.ops
.phrase``; the indexed scorers here decode only the queried terms'
fragments (parquet term-pushdown) and feed the identical downstream
plan, so the two paths are parity-testable row-for-row.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from . import codec
from ..rows import rows_df

POS_BLOCK_STRUCT = StructType([
    StructField("first_doc", LongType()),
    StructField("last_doc", LongType()),
    StructField("n", IntegerType()),
    StructField("docs", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("poss", BinaryType()),
])

POSITIONS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("shard", IntegerType()),
    StructField("df", LongType()),
    StructField("blocks", ArrayType(POS_BLOCK_STRUCT)),
])

_POINTER = "POSITIONS_CURRENT"


def positions_dir(index_dir: str) -> str:
    """Resolve the CURRENT positions sidecar directory (pointer file,
    same protocol as build.postings_path)."""
    cur = f"{index_dir}/{_POINTER}"
    if os.path.exists(cur):
        with open(cur) as f:
            return f"{index_dir}/{f.read().strip()}"
    return f"{index_dir}/positions"


def swap_positions(index_dir: str, new_name: str) -> None:
    """Atomically point the sidecar at ``index_dir/new_name``, then
    best-effort delete the previous directory."""
    import shutil
    old = positions_dir(index_dir)
    tmp = f"{index_dir}/{_POINTER}.tmp"
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, f"{index_dir}/{_POINTER}")
    if os.path.abspath(old) != os.path.abspath(f"{index_dir}/{new_name}"):
        shutil.rmtree(old, ignore_errors=True)


# ------------------------------------------------------------------ build

def _encode_pos_runs(run_lens, doc: np.ndarray, tf: np.ndarray,
                     flat_pos: np.ndarray, block_size: int):
    """Concatenated term runs (docs ascending within a run, per-doc
    position counts tf, positions concatenated in doc order) -> the
    sidecar ``blocks`` column (Arrow), one list of blocks per run, in
    one ``codec`` stream encode."""
    import pyarrow as pa
    doc = np.asarray(doc, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    n_blocks, blen, bstart = codec.block_layout(run_lens, block_size)
    p = np.asarray(flat_pos, dtype=np.int64)
    delta = p.copy()
    delta[1:] -= p[:-1]
    first_pos = np.zeros(len(doc), dtype=np.int64)
    np.cumsum(tf[:-1], out=first_pos[1:])
    delta[first_pos[tf > 0]] = p[first_pos[tf > 0]]  # per-doc first absolute
    blk_pos = np.add.reduceat(tf, bstart) if len(bstart) else blen
    return codec.blocks_column(n_blocks, [
        ("first_doc", pa.array(doc[bstart], pa.int64())),
        ("last_doc", pa.array(doc[bstart + blen - 1], pa.int64())),
        ("n", pa.array(blen, pa.int32())),
    ], [
        ("docs", codec.doc_gaps(codec.to_u64(doc), bstart), blen - 1),
        ("tfs", tf, blen),
        ("poss", delta, blk_pos),
    ])


def _decode_pos_runs(blocks):
    """Sidecar ``blocks`` column (Arrow) -> flat (row, doc, tf) per
    posting plus every position in posting order, all rows at once."""
    row, f = codec.unpack_blocks(blocks)
    n = f["n"]
    doc = codec.block_docs(f["first_doc"], n,
                           codec.decode_streams(*f["docs"], n - 1))
    tf = codec.decode_streams(*f["tfs"], n).astype(np.int64)
    blk_pos = np.add.reduceat(tf, np.append(0, np.cumsum(n)[:-1])) \
        if len(n) else n
    delta = codec.decode_streams(*f["poss"], blk_pos).astype(np.int64)
    return np.repeat(row, n), doc, tf, _positions(delta, tf)


def _positions(delta: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Position deltas (each doc's first one absolute) -> positions: a
    cumulative sum re-anchored at each doc's first position."""
    c = np.cumsum(delta)
    starts = np.zeros(len(tfs), dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    return c - np.repeat(c[starts] - delta[starts], tfs)


def _decode_pos_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """block -> (doc_ids asc, tfs, positions flat in doc order)."""
    get = (block.get if isinstance(block, dict)
           else lambda k: getattr(block, k))
    n = int(get("n"))
    gaps = codec.decode_stream(bytes(get("docs")), n - 1)
    u = np.empty(n, dtype=np.uint64)
    u[0] = codec.to_u64(np.array([get("first_doc")], dtype=np.int64))[0]
    if len(gaps):
        np.cumsum(gaps, out=u[1:])
        u[1:] += u[0]
    tfs = codec.decode_stream(bytes(get("tfs")), n).astype(np.int64)
    npos = int(tfs.sum())
    delta = codec.decode_stream(bytes(get("poss")), npos).astype(np.int64)
    return codec.from_u64(u), tfs, _positions(delta, tfs)


def _fused_positions_pipe(batch_iter, block_size: int, profile: str):
    """documents batches -> encoded positional fragments, one pass.

    tokenize (pyarrow RE2 kernels, the Arrow lockstep impl) -> per-token
    1-based position within its doc -> stable lexsort to (term, doc)
    runs (positions stay ascending inside each run) -> block encode of
    every fragment of the batch in one ``_encode_pos_runs`` call (no
    Python object per fragment, block or token).
    """
    import pyarrow as pa
    from ..tokenizer import arrow_tokenize_batch

    for batch in batch_iter:
        nrows = batch.num_rows
        if nrows == 0:
            continue
        with_idx = pa.record_batch(
            [pa.array(np.arange(nrows), pa.int64()), batch.column("text")],
            names=["__rowidx", "text"])
        tok = arrow_tokenize_batch(with_idx, "text", "__rowidx",
                                   profile=profile)
        ridx = tok.column("doc_id").to_numpy(zero_copy_only=False)
        if len(ridx) == 0:
            continue
        enc = tok.column("term").dictionary_encode()
        tcode = enc.indices.to_numpy(zero_copy_only=False)
        # 1-based token position within each doc (ridx is non-decreasing
        # in flatten order)
        doc_change = np.empty(len(ridx), dtype=bool)
        doc_change[0] = True
        doc_change[1:] = ridx[1:] != ridx[:-1]
        doc_starts = np.flatnonzero(doc_change)
        doc_lens = np.diff(np.append(doc_starts, len(ridx)))
        pos = (np.arange(len(ridx), dtype=np.int64)
               - np.repeat(doc_starts, doc_lens) + 1)
        doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        docs_tok = doc_ids[ridx]
        # (term, doc) runs; stable sort keeps positions ascending per run
        order = np.lexsort((docs_tok, tcode))
        tc_s, doc_s, pos_s = tcode[order], docs_tok[order], pos[order]
        run = np.empty(len(order), dtype=bool)
        run[0] = True
        run[1:] = (tc_s[1:] != tc_s[:-1]) | (doc_s[1:] != doc_s[:-1])
        rstarts = np.flatnonzero(run)
        rends = np.append(rstarts[1:], len(order))
        tf_run = (rends - rstarts).astype(np.int64)
        term_run = tc_s[rstarts]
        doc_run = doc_s[rstarts]
        # term fragments: consecutive runs sharing a term code
        tchange = np.empty(len(rstarts), dtype=bool)
        tchange[0] = True
        tchange[1:] = term_run[1:] != term_run[:-1]
        fstarts = np.flatnonzero(tchange)
        fends = np.append(fstarts[1:], len(rstarts))
        yield pa.RecordBatch.from_arrays([
            enc.dictionary.take(pa.array(term_run[fstarts])),
            pa.array(np.zeros(len(fstarts), np.int32), pa.int32()),
            pa.array(fends - fstarts, pa.int64()),
            _encode_pos_runs(fends - fstarts, doc_run, tf_run, pos_s,
                             block_size),
        ], names=["term", "shard", "df", "blocks"])


def build_positions(docs: DataFrame, index_dir: str, *,
                    n_salts: int = 8,
                    block_size: int = codec.BLOCK_SIZE,
                    profile: str = "code") -> str:
    """Build the positional sidecar under ``index_dir`` from
    ``docs(doc_id, text)``. One job: composed tokenize+encode pass
    (shuffle-free), then a single shuffle of compressed fragments
    co-located by (term, shard), then the atomic pointer swap.
    Returns the new directory name."""
    os.makedirs(index_dir, exist_ok=True)
    new_name = f"positions_{uuid.uuid4().hex[:12]}"
    out = f"{index_dir}/{new_name}"
    runs = docs.select("doc_id", "text").mapInArrow(
        lambda it: _fused_positions_pipe(it, block_size, profile),
        POSITIONS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    salted.repartition("term", "shard").write.mode("overwrite").parquet(out)
    swap_positions(index_dir, new_name)
    return new_name


def append_positions(docs_new: DataFrame, index_dir: str, *,
                     n_salts: int = 8,
                     block_size: int = codec.BLOCK_SIZE,
                     profile: str = "code") -> None:
    """Incremental sidecar growth: encode ONLY the new docs and append
    their fragments to the current sidecar directory (O(new docs), not
    O(corpus) — the positional mirror of the LSM incremental fold).

    Sound because fragments are additive per (term, shard) and every
    doc's positions live wholly in its own new fragment; the same
    sparse-new-ids contract as ``streaming._incremental_fold`` applies
    (re-appending an existing doc_id would double-count — deduplicate
    upstream). Spark's parquet commit protocol stages files under
    ``_temporary`` and renames on job commit, so a crashed append leaves
    no partial fragment visible."""
    cur = positions_dir(index_dir)
    if not os.path.exists(cur):
        build_positions(docs_new, index_dir, n_salts=n_salts,
                        block_size=block_size, profile=profile)
        return
    runs = docs_new.select("doc_id", "text").mapInArrow(
        lambda it: _fused_positions_pipe(it, block_size, profile),
        POSITIONS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    salted.repartition("term", "shard").write.mode("append").parquet(cur)


def compact_positions(spark: SparkSession, index_dir: str, *,
                      block_size: int = codec.BLOCK_SIZE,
                      max_merge_docs: int = 5_000_000) -> None:
    """Offline sidecar compaction (the LSM merge step, as in
    ``build.compact``): co-locate each (term, shard)'s fragments and
    merge them into one doc-sorted fragment, so a long-appended sidecar
    reads like a fresh build. Groups whose merged df would exceed
    ``max_merge_docs`` pass through unmerged (fragments stay valid —
    every consumer treats rows additively). New versioned dir + atomic
    pointer swap; crash-safe like every other rewrite in this engine."""
    cur = positions_dir(index_dir)
    new_name = f"positions_{uuid.uuid4().hex[:12]}"
    out = f"{index_dir}/{new_name}"

    def merge(batch_iter):
        import pyarrow as pa
        from .build import _merge_plan
        keys = ["term", "shard"]
        cols = ["term", "shard", "df", "blocks"]
        for keep, sub, sizes in _merge_plan(batch_iter, keys,
                                            max_merge_docs):
            if keep.num_rows:
                yield keep.select(cols)
            if not sub.num_rows:
                continue
            row, d, tf, p = _decode_pos_runs(sub.column("blocks"))
            group = np.repeat(np.arange(len(sizes)), sizes)[row]
            order = np.lexsort((d, group))
            # positions follow their doc through the sort: gather each
            # doc's slice of the flat stream in the new doc order
            at = np.zeros(len(tf), dtype=np.int64)
            np.cumsum(tf[:-1], out=at[1:])
            tf = tf[order]
            p = p[np.repeat(at[order], tf) + np.arange(len(p))
                  - np.repeat(np.cumsum(tf) - tf, tf)]
            lens = np.bincount(group, minlength=len(sizes))
            firsts = pa.array(np.append(0, np.cumsum(sizes)[:-1]))
            yield pa.RecordBatch.from_arrays([
                sub.column("term").take(firsts),
                sub.column("shard").take(firsts),
                pa.array(lens, pa.int64()),
                _encode_pos_runs(lens, d[order], tf, p, block_size),
            ], names=cols)

    (spark.read.parquet(cur)
     .repartition("term", "shard")
     .sortWithinPartitions("term", "shard")
     .mapInArrow(merge, POSITIONS_SCHEMA)
     .write.mode("overwrite").parquet(out))
    swap_positions(index_dir, new_name)


# ------------------------------------------------------------------ query

def term_positions(spark: SparkSession, index_dir: str,
                   terms: list[str], doc_ids=None) -> DataFrame:
    """Decode the sidecar for exactly ``terms`` -> (doc_id, pos, term),
    the same shape as ``tokenizer.tokens_exploded`` restricted to those
    terms. The parquet scan prunes on the term predicate (fragments are
    term-clustered by the build's repartition); only queried terms'
    blocks are ever decoded.

    ``doc_ids`` (optional, small — e.g. a top-k hit list) prunes INSIDE
    the decode: blocks whose [first_doc, last_doc] range misses the set
    are skipped without decoding (a filter above mapInPandas could not
    push through the UDF boundary, so a hot term would otherwise emit
    its full corpus-wide position stream to highlight 10 docs)."""
    frags = (spark.read.parquet(positions_dir(index_dir))
             .where(F.col("term").isin(list(set(terms))))
             .select("term", "blocks"))
    wanted = (np.unique(np.asarray(list(doc_ids), dtype=np.int64))
              if doc_ids is not None else None)
    w_bc = (spark.sparkContext.broadcast(wanted)
            if wanted is not None else None)

    def decode(pdf_iter):
        import pandas as pd
        w = w_bc.value if w_bc is not None else None
        for pdf in pdf_iter:
            outs = []
            for term, blocks in zip(pdf["term"], pdf["blocks"]):
                for b in blocks:
                    if w is not None:
                        get = (b.get if isinstance(b, dict)
                               else lambda k, _b=b: getattr(_b, k))
                        lo = np.searchsorted(w, int(get("first_doc")))
                        if lo >= len(w) or w[lo] > int(get("last_doc")):
                            continue  # no wanted doc in this block
                    d, tfs, p = _decode_pos_block(b)
                    if w is not None:
                        m = np.isin(d, w, assume_unique=True)
                        if not m.any():
                            continue
                        p = p[np.repeat(m, tfs)]  # flat-pos mask first
                        d, tfs = d[m], tfs[m]
                    outs.append(pd.DataFrame({
                        "doc_id": np.repeat(d, tfs),
                        "pos": p.astype(np.int32),
                        "term": term}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return frags.mapInPandas(decode, "doc_id long, pos int, term string")


def _exclude(df: DataFrame, exclude_doc_ids) -> DataFrame:
    if exclude_doc_ids is None or len(exclude_doc_ids) == 0:
        return df
    spark = df.sparkSession
    ex = rows_df(spark, [(int(d),) for d in exclude_doc_ids],
                 "doc_id long")
    return df.join(F.broadcast(ex), "doc_id", "left_anti")


def phrase_topk_indexed(spark: SparkSession, index_dir: str,
                        terms: list[str], k: int = 10,
                        exclude_doc_ids=None) -> DataFrame:
    """Index-backed exact-phrase top-k; row-for-row equal to
    ``ops.phrase.phrase_topk`` over the same corpus (parity-tested).
    ``exclude_doc_ids``: raw doc ids to drop (tombstones — see
    ``tombstoned_doc_ids``)."""
    from ..ops.phrase import phrase_from_positions
    pos = _exclude(term_positions(spark, index_dir, terms), exclude_doc_ids)
    return phrase_from_positions(pos, terms, k)


def proximity_topk_indexed(spark: SparkSession, index_dir: str,
                           term_a: str, term_b: str, window: int = 5,
                           k: int = 10, exclude_doc_ids=None) -> DataFrame:
    from ..ops.phrase import proximity_from_positions
    pos = _exclude(term_positions(spark, index_dir, [term_a, term_b]),
                   exclude_doc_ids)
    return proximity_from_positions(pos, term_a, term_b, window, k)


def tombstoned_doc_ids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The main index's tombstones as RAW doc ids (the sidecar stores
    raw ids, so dense indexes' ordinal-space pids are translated back
    through the docmap)."""
    from .build import docmap_path, load_docmap, postings_path
    from .delete import load_tombstones
    pids = load_tombstones(index_dir)
    if len(pids) == 0:
        return pids
    post = postings_path(index_dir)
    if not os.path.exists(docmap_path(post)):
        return pids  # sparse index: pids ARE doc ids
    # pids are sorted ordinals and ordinals follow doc_id order, so the
    # take is sorted too
    import duckdb
    return load_docmap(duckdb.connect(), post)[pids]
