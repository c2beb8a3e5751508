"""Document deletion for the LSM index: Lucene-style tombstones.

The reference is batch-only; a production fulltext index needs
deletes. The design mirrors Lucene's live-docs model, adapted to the
engine's immutable-fragment LSM layout:

- ``delete_docs`` appends a tombstone batch under
  ``<index>/tombstones/del_<uuid>/`` (parquet, one row per deleted
  doc). Postings files are NOT touched — they are immutable fragments
  shared (hardlinked) across index versions. For dense-ordinal
  indexes the doc_id -> ordinal translation happens HERE, at delete
  time, via one broadcast join against the docmap, so the read path
  never pays it.
- Query time: every scorer drops tombstoned docs from the decoded
  postings (a sorted-array membership test, vectorized). Collection
  statistics (n_docs, avgdl, df) intentionally keep their build-time
  values until a purge — exactly Lucene's docCount-includes-deletes
  semantics — so surviving docs keep their original scores and
  Block-Max upper bounds stay valid (bounds over a superset).
- ``purge_deleted`` physically rewrites the postings without the
  tombstoned docs (decode -> filter -> re-encode, rows without hits
  pass through byte-identical), recomputes n_docs/avgdl exactly from
  the surviving postings, and adopts the result with the same
  crash-safe versioned-dir + POSTINGS_CURRENT pointer swap as
  build/refresh/compact. It ALSO filters the durable token
  checkpoints (``segments/``, ``segments_stream/``) via
  ``purge_segment_checkpoints`` so a later full refresh, resume, or
  duplicate-guard scan never sees the deleted docs — without this a
  rebuild would resurrect them. ``refresh_postings(incremental=False)``
  applies outstanding tombstones the same way before re-encoding (a
  full refresh is a rewrite anyway — the natural purge moment, like a
  Lucene segment merge) and clears them after its pointer swap;
  essential for DENSE indexes, where a rebuild reassigns ordinals and
  stale ordinal-space tombstones would otherwise mask the wrong docs. Tombstone batches that existed when the
  purge STARTED are unlinked after the swap; batches appended during
  the purge survive it (their docs were not purged). A crash between
  swap and unlink leaves stale tombstones whose docs are already
  gone — re-filtering them is a harmless no-op, so the protocol needs
  no write-ahead record.

Re-adding a deleted doc_id before a purge is rejected by the
streaming duplicate guard (its postings still exist physically);
purge first, then re-append.

Scale: the tombstone set rides to executors as a Spark broadcast of a
sorted int64 array — fine into the tens of millions of deletes. At
billions, swap the membership test for an anti-join on the decoded
postings (same plan shape as the duplicate guard); the storage
format already supports it (tombstones are a plain parquet table).
"""

from __future__ import annotations

import glob as _glob
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from ..rows import rows_df
from .build import (POSTINGS_SCHEMA, _append_manifest, docmap_path,
                    postings_path, swap_postings, write_postings,
                    write_stats)

TOMBSTONE_DIR = "tombstones"


def _tombstone_files(index_dir: str) -> list[str]:
    return sorted(_glob.glob(
        os.path.join(index_dir, TOMBSTONE_DIR, "del_*", "*.parquet")))


def load_tombstones(index_dir: str) -> np.ndarray:
    """All tombstoned ids in POSTING space (ordinals for dense
    indexes), as a sorted unique int64 array. Driver-side read of the
    small tombstone table."""
    files = _tombstone_files(index_dir)
    if not files:
        return np.empty(0, np.int64)
    import duckdb
    pat = os.path.join(index_dir, TOMBSTONE_DIR, "del_*", "*.parquet")
    rows = duckdb.connect().execute(
        f"SELECT DISTINCT pid FROM read_parquet('{pat}') ORDER BY pid"
    ).fetchall()
    return np.asarray([r[0] for r in rows], np.int64)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Tombstone documents. ``doc_ids``: iterable of ints or a
    DataFrame with a ``doc_id`` column (the distributed form for bulk
    deletes). Returns the number of tombstones written (ids absent
    from a dense index's docmap are dropped; sparse indexes accept any
    id — filtering unknown ids is a no-op at query time). Readers
    constructed before a delete keep serving the old live set (same
    new-reader-after-mutation contract as the pointer swap)."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        vals = sorted({int(d) for d in doc_ids})
        if not vals:
            return 0
        ids = rows_df(spark, [(v,) for v in vals], "doc_id long")

    dm = docmap_path(postings_path(index_dir))
    if os.path.exists(dm):
        # dense: translate to ordinals now, one broadcast join
        m = spark.read.parquet(dm)
        pid = (m.join(F.broadcast(ids), "doc_id")
               .select(F.col("ord").alias("pid"), "doc_id"))
    else:
        pid = ids.select(F.col("doc_id").alias("pid"), "doc_id")

    out = os.path.join(index_dir, TOMBSTONE_DIR,
                       f"del_{uuid.uuid4().hex[:12]}")
    pid.write.mode("overwrite").parquet(out)
    import duckdb
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    _append_manifest(spark, index_dir, [(
        os.path.basename(out), "delete", -1, "done", int(n), 0, 0, "",
        time.time())])
    return int(n)


def load_tombstone_doc_ids(index_dir: str) -> np.ndarray:
    """Tombstoned ids in RAW doc_id space (the ``doc_id`` column kept
    alongside ``pid`` at delete time), sorted unique int64. Used to
    filter the segments checkpoints, which store raw doc_ids even when
    the postings are dense-ordinal."""
    files = _tombstone_files(index_dir)
    if not files:
        return np.empty(0, np.int64)
    import duckdb
    pat = os.path.join(index_dir, TOMBSTONE_DIR, "del_*", "*.parquet")
    rows = duckdb.connect().execute(
        f"SELECT DISTINCT doc_id FROM read_parquet('{pat}') ORDER BY doc_id"
    ).fetchall()
    return np.asarray([r[0] for r in rows], np.int64)


def clear_tombstones(index_dir: str, snapshot: list[str] | None = None):
    """Unlink applied tombstone batches (the files in ``snapshot``, or
    all current ones) and sweep empty del_* dirs. Batches appended
    after the snapshot was taken survive — their docs were not
    applied."""
    import shutil
    for f in (snapshot if snapshot is not None
              else _tombstone_files(index_dir)):
        try:
            os.unlink(f)
        except OSError:
            pass
    for d in _glob.glob(os.path.join(index_dir, TOMBSTONE_DIR, "del_*")):
        try:
            if not any(x.endswith(".parquet") for x in os.listdir(d)):
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass


def purge_segment_checkpoints(spark: SparkSession, index_dir: str) -> int:
    """Filter tombstoned docs out of the durable token checkpoints
    (``segments/`` and ``segments_stream/``), so a later full refresh
    or resume cannot resurrect deleted docs and the streaming
    duplicate guard accepts a re-append of a purged doc_id.

    Crash-safe with NO pointer machinery: each parquet file is
    rewritten independently (read -> mask -> write sibling tmp ->
    ``os.replace``, atomic per file), files without hits are left
    byte-identical, and the tombstones that drove the filter are only
    unlinked by the CALLER after everything else commits — so a crash
    at any point leaves a mix of filtered and unfiltered files plus
    intact tombstones, and a retry simply re-filters (a no-op on
    already-clean files). Distributed: the file list fans out over
    executors; each task touches only its own files. Returns rows
    removed. (Single-filesystem rename semantics, like the build's
    hardlink-adopt path — on a DFS deployment this maps to the store's
    atomic per-file rename.)"""
    dead = load_tombstone_doc_ids(index_dir)
    if dead.size == 0:
        return 0
    files = sorted(
        _glob.glob(os.path.join(index_dir, "segments", "*", "*.parquet"))
        + _glob.glob(os.path.join(index_dir, "segments_stream",
                                  "*", "*", "*.parquet")))
    if not files:
        return 0
    bc = spark.sparkContext.broadcast(dead)

    def _filter_files(pdf_iter):
        import pyarrow as pa
        import pyarrow.parquet as pq
        t = bc.value
        for pdf in pdf_iter:
            removed = []
            for p in pdf["path"]:
                tbl = pq.read_table(p)
                ids = tbl.column("doc_id").to_numpy()
                keep = keep_mask(ids, t)
                n_dead = int(len(ids) - keep.sum())
                if n_dead:
                    tmp = p + ".purge.tmp"
                    pq.write_table(tbl.filter(pa.array(keep)), tmp)
                    os.replace(tmp, p)
                    # Hadoop's local FS keeps .<name>.crc checksum
                    # sidecars; a stale one turns the rewritten file
                    # into a ChecksumException on the next Spark read
                    crc = os.path.join(os.path.dirname(p),
                                       f".{os.path.basename(p)}.crc")
                    try:
                        os.unlink(crc)
                    except OSError:
                        pass
                removed.append(n_dead)
            yield pd.DataFrame({"removed": removed})

    fdf = rows_df(spark, [(f,) for f in files], "path string") \
        .repartition(min(len(files), 64))
    n = fdf.mapInPandas(_filter_files, "removed long") \
        .agg(F.sum("removed").alias("n")).first().n
    return int(n or 0)


def keep_mask(docs: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """Boolean mask of docs NOT in the sorted tombstone array."""
    if tomb.size == 0:
        return np.ones(len(docs), dtype=bool)
    pos = np.searchsorted(tomb, docs)
    np.minimum(pos, tomb.size - 1, out=pos)
    return tomb[pos] != docs


def purge_deleted(spark: SparkSession, index_dir: str, *,
                  block_size: int | None = None) -> int:
    """Physically remove tombstoned docs from the postings (see module
    docstring for the protocol). Returns the number of tombstones
    applied. O(corpus decode) — periodic maintenance, like compact();
    rows with no deleted docs pass through without re-encoding."""
    st = spark.read.parquet(f"{index_dir}/stats").first()
    if block_size is None:
        block_size = st.block_size
    snapshot = _tombstone_files(index_dir)
    tomb = load_tombstones(index_dir)
    if tomb.size == 0:
        return 0
    # durable token checkpoints first (idempotent, per-file atomic):
    # a crash after this leaves clean segments + intact tombstones, and
    # the retry's segment pass is a no-op
    purge_segment_checkpoints(spark, index_dir)
    bc = spark.sparkContext.broadcast(tomb)
    cur = postings_path(index_dir)
    p = spark.read.parquet(cur)

    def _purge(pdf_iter):
        t = bc.value
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples():
                docs, tfs, dls = codec.decode_blocks(r.blocks)
                keep = keep_mask(docs, t)
                if keep.all():
                    rows.append((r.term, int(r.shard), int(r.df),
                                 int(r.cf), r.blocks))
                elif keep.any():
                    d, tf, dl = docs[keep], tfs[keep], dls[keep]
                    rows.append((r.term, int(r.shard), len(d),
                                 int(tf.sum()),
                                 codec.encode_blocks(d, tf, dl,
                                                     block_size)))
                # else: the whole row was deleted docs — drop it
            yield pd.DataFrame(rows, columns=["term", "shard", "df",
                                              "cf", "blocks"])

    new_name = f"postings_{uuid.uuid4().hex[:12]}"
    new_dir = f"{index_dir}/{new_name}"
    # row-wise rewrite: no repartition — the purge is embarrassingly
    # parallel per posting row, so the corpus-sized blocks never shuffle
    write_postings(p.mapInPandas(_purge, POSTINGS_SCHEMA), new_dir)

    # exact stats from the surviving postings (self-healing: no delta
    # arithmetic against possibly-stale old stats). Decode only the
    # (doc, dl) pairs; map-side dedup bounds the shuffle at
    # ~n_live_docs rows.
    def _doc_dl(pdf_iter):
        for pdf in pdf_iter:
            seen: dict[int, int] = {}
            for blocks in pdf["blocks"]:
                docs, _, dls = codec.decode_blocks(blocks)
                for d, dl in zip(docs.tolist(), dls.tolist()):
                    seen[d] = dl
            yield pd.DataFrame({"doc_id": list(seen.keys()),
                                "dl": list(seen.values())})

    agg = (spark.read.parquet(new_dir).select("blocks")
           .mapInPandas(_doc_dl, "doc_id long, dl long")
           .groupBy("doc_id").agg(F.first("dl").alias("dl"))
           .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
           .first())
    n_docs = int(agg.n or 0)
    avgdl = float(agg.s or 0) / n_docs if n_docs else 0.0

    # dense: ordinal space unchanged (holes where deleted ords were —
    # never referenced again); carry the docmap like compact() does
    old_dm = docmap_path(cur)
    if os.path.exists(old_dm):
        import shutil
        new_dm = docmap_path(new_dir)
        os.makedirs(new_dm, exist_ok=True)
        for f in os.listdir(old_dm):
            try:
                os.link(os.path.join(old_dm, f),
                        os.path.join(new_dm, f))
            except OSError:
                shutil.copy2(os.path.join(old_dm, f),
                             os.path.join(new_dm, f))

    swap_postings(index_dir, new_name)
    write_stats(index_dir, n_docs, avgdl, int(st.hot_threshold),
                block_size)
    _append_manifest(spark, index_dir, [(
        new_name, "purge_deleted", -1, "done", int(tomb.size), 0, 0,
        "", time.time())])
    # applied tombstones: best-effort unlink of the start-time snapshot
    clear_tombstones(index_dir, snapshot)
    return int(tomb.size)
