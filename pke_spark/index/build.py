"""Inverted-index build: staged, per-partition-checkpointed, salted.

Distributed generalization of the reference's corpus batch job
``compute_document_frequency`` (pke/utils.py:63-139): scan -> tokenize ->
per-doc term counts -> global term aggregation -> index sink, with the
``--NB_DOC--`` corpus-size row generalized into a stats/manifest table.

Layout under ``index_dir``:
  staged/part=K/     input docs repartitioned once by doc-hash (only in
                     checkpointed mode; later phases read single
                     partitions via partition pruning — no input rescans)
  segments/part=K/   (doc_id, term, tf, dl) per-partition checkpoint
                     units (fused Arrow tokenize+count, zero shuffles)
  manifest/          lineage rows (build_id, phase, part, status,
                     doc_count, term_count, bytes, input_snapshot)
  postings/          final index (term, shard, df, cf, blocks[...])
  stats/             single row (n_docs, avgdl, hot_threshold, dense)

Phase B is the north rule's per-partition-index-then-merge shape: each
task block-encodes its segment rows into partial posting RUNS
(_encode_runs, shuffle-free), and only those compressed fragments cross
the one shuffle of the build (~5.7x less traffic than shuffling raw
token rows — benchmarks/membw_evidence.json). Fragments are valid
additive postings rows, so the build co-locates them per (term, shard)
and stops — LSM semantics; ``compact()`` is the hierarchical
bounded-fan-in merge, run offline/periodically like Lucene segment
merging (or eagerly with ``merge_runs=True``).

Skew (SURVEY §4.3): every fragment is salted by
hash(term, first_doc) %% ``n_salts``, so a mega-term's fragments spread
over n_salts reduce tasks with NO hot-term detection pass; the query
side is shard-agnostic because a doc lands in exactly one fragment —
hence one shard — per term. ``compact()`` bounds its merges with
``max_merge_docs``; terms above it stay fragmented by design.

Resumability (north rule): each phase-A partition is a checkpoint unit;
``build_index(..., resume=True)`` anti-joins completed parts from the
manifest and processes only the rest. Tested by killing after m of M
parts and asserting the resumed index equals a single-run build.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from . import codec

BLOCK_STRUCT = StructType([
    StructField("first_doc", LongType()),
    StructField("last_doc", LongType()),
    StructField("n", IntegerType()),
    StructField("max_tf", IntegerType()),
    StructField("docs", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("dls", BinaryType()),
])
POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("shard", IntegerType()),
    StructField("df", LongType()),
    StructField("cf", LongType()),
    StructField("blocks", ArrayType(BLOCK_STRUCT)),
])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _append_manifest(spark: SparkSession, index_dir: str, rows: list[tuple]):
    """Append lineage rows as one small parquet file, written directly
    with pyarrow — a driver-side metadata write must not cost a Spark
    job (on a cluster this would be a metastore/Iceberg commit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    names = ["build_id", "phase", "part", "status", "doc_count",
             "term_count", "bytes", "input_snapshot", "ts"]
    cols = list(zip(*rows))
    table = pa.table({
        "build_id": pa.array(cols[0], pa.string()),
        "phase": pa.array(cols[1], pa.string()),
        "part": pa.array(cols[2], pa.int32()),
        "status": pa.array(cols[3], pa.string()),
        "doc_count": pa.array(cols[4], pa.int64()),
        "term_count": pa.array(cols[5], pa.int64()),
        "bytes": pa.array(cols[6], pa.int64()),
        "input_snapshot": pa.array(cols[7], pa.string()),
        "ts": pa.array(cols[8], pa.float64()),
    })
    assert table.column_names == names
    os.makedirs(f"{index_dir}/manifest", exist_ok=True)
    pq.write_table(table,
                   f"{index_dir}/manifest/{uuid.uuid4().hex[:16]}.parquet")


def postings_path(index_dir: str) -> str:
    """Resolve the CURRENT postings directory. Fresh builds write
    ``postings``; compaction/refresh write a new versioned directory and
    atomically flip the ``POSTINGS_CURRENT`` pointer file (os.replace is
    atomic on POSIX), so a crash mid-swap never leaves the index without
    a readable postings dir. Readers resolve the pointer at construction
    — recreate IndexReader instances after a compaction."""
    cur = f"{index_dir}/POSTINGS_CURRENT"
    if os.path.exists(cur):
        with open(cur) as f:
            return f"{index_dir}/{f.read().strip()}"
    return f"{index_dir}/postings"


def docmap_path(postings_dir: str) -> str:
    """The dense doc-ordinal map travels WITH its postings directory
    (``<postings>_docmap``): the POSTINGS_CURRENT pointer swap then
    atomically switches both, so postings encoded in ordinal space can
    never be read against another build's map."""
    return f"{postings_dir}_docmap"


def load_docmap(con, postings_dir: str):
    """The dense doc-ordinal map of ``postings_dir`` as ONE int64
    doc_id array indexed by ordinal, read on the DuckDB connection
    ``con`` — the driver's only reader of the docmap files. The build
    writes the map ord-sorted with ordinals 0..n-1 assigned in
    ascending doc_id order; a map that breaks either invariant (lost,
    duplicated or reordered ordinals, doc_ids out of order) raises
    RuntimeError instead of translating to wrong doc_ids."""
    import numpy as np
    dm = docmap_path(postings_dir)
    got = con.execute(f"SELECT ord, doc_id FROM "
                      f"read_parquet('{dm}/*.parquet')").fetchnumpy()
    ords = np.asarray(got["ord"], dtype=np.int64)
    ids = np.ascontiguousarray(got["doc_id"], dtype=np.int64)
    if not np.array_equal(ords, np.arange(len(ords), dtype=np.int64)):
        raise RuntimeError(
            f"docmap {dm}: ordinals are not exactly 0..{len(ords) - 1} "
            "— refusing to serve possibly-mistranslated doc_ids")
    if len(ids) > 1 and not bool(np.all(ids[1:] > ids[:-1])):
        raise RuntimeError(
            f"docmap {dm}: doc_ids are not strictly ascending in ordinal "
            "order — refusing to serve possibly-mistranslated doc_ids")
    return ids


def swap_postings(index_dir: str, new_name: str) -> None:
    """Atomically point the index at ``index_dir/new_name`` and then
    best-effort delete the previous postings directory."""
    import shutil
    old = postings_path(index_dir)
    tmp = f"{index_dir}/POSTINGS_CURRENT.tmp"
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, f"{index_dir}/POSTINGS_CURRENT")
    if os.path.abspath(old) != os.path.abspath(f"{index_dir}/{new_name}"):
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(docmap_path(old), ignore_errors=True)


# Postings row-group bound, in rows. Every postings file is written
# sorted by (term, shard), so each row group covers a narrow term range
# and the reader settles a dictionary or postings miss from the footer
# min/max alone, then reads one such group per file. Smaller groups make
# that read cheaper but cost footer and page overhead: re-writing one
# 6k-doc index, 1024 rows grew the postings 16.8%, 2048 rows 9.9%, 4096
# rows 7.4%, while a point read's p50 went 0.47 / 0.53 / 0.81 ms against
# 2.65 ms unsorted. 2048 is the smallest bound inside the 15% growth cap.
POSTINGS_ROW_GROUP_ROWS = 2048


def write_postings(postings: DataFrame, path: str) -> None:
    """The one postings writer: rows sorted by (term, shard) within each
    output file, row groups bounded at POSTINGS_ROW_GROUP_ROWS. The sort
    is partition-local (no exchange); parquet-mr records each group's
    ``term`` min/max in the footer, which is the index
    ``IndexReader`` routes its misses through."""
    (postings.sortWithinPartitions("term", "shard").write.mode("overwrite")
     .option("parquet.block.row.count.limit", POSTINGS_ROW_GROUP_ROWS)
     .parquet(path))


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (no Spark job)."""
    import pyarrow.dataset as ds
    return sum(f.count_rows() for f in ds.dataset(path, format="parquet",
                                                  partitioning="hive").get_fragments())


# driver-side stats shortcut bound: below this, corpus-level statistics
# (n_docs, avgdl, hot terms, manifest counts) come from a DuckDB scan of
# the local segment parquet instead of Spark jobs. On a real cluster the
# segment table exceeds this and the Spark path runs.
DRIVER_STATS_MAX_BYTES = 1 << 30


def _fused_count_batches(batch_iter, profile: str = "code"):
    """Arrow-native tokenize + per-doc term count, one pass, no shuffle.

    Per-doc term frequencies are PARTITION-LOCAL facts (every token of a
    doc lives in the doc's own row), so the old plan's
    explode -> groupBy(part, doc_id, term) exchange shuffled data it
    never needed to: tokenization (pyarrow RE2 kernels, the 4th lockstep
    tokenizer impl) and counting (Arrow C++ hash group-by) both happen
    inside one mapInArrow pass here. Phase A shuffles NOTHING: one-shot
    builds derive part from the input split (derive_part), and
    checkpointed builds read the already part-aligned staged/part=K.
    This is the "cut the memory-bus share" design of
    VERDICT r2 item 1: one content materialization instead of exploded
    token rows flowing through a JVM hash-agg plus two exchanges.
    """
    import numpy as np
    import pyarrow as pa
    from ..tokenizer import arrow_tokenize_batch

    for batch in batch_iter:
        n = batch.num_rows
        if n == 0:
            continue
        # batch-local row index as the doc key: grouping on a dense int
        # beats hashing doc_id through the tokenizer's take paths, and
        # maps straight back to (part, doc_id) by position
        with_idx = pa.record_batch(
            [pa.array(np.arange(n), pa.int64()), batch.column("text")],
            names=["__rowidx", "text"])
        tok = arrow_tokenize_batch(with_idx, "text", "__rowidx",
                                   profile=profile)
        t = pa.table({"__rowidx": tok.column("doc_id"),
                      "term": tok.column("term")})
        counted = t.group_by(["__rowidx", "term"],
                             use_threads=False).aggregate([([], "count_all")])
        idx = counted.column("__rowidx")
        tf = counted.column("count_all").cast(pa.int64()).combine_chunks()
        # doc length as a column (dl = sum tf per doc, complete inside
        # the batch since a doc is one input row): phase B then never
        # re-derives dl with a corpus-wide groupBy + broadcast join —
        # per-run encoding reads it straight off the row
        dl_np = np.zeros(n, dtype=np.int64)
        np.add.at(dl_np, idx.to_numpy(zero_copy_only=False).astype(np.int64),
                  tf.to_numpy(zero_copy_only=False))
        yield pa.RecordBatch.from_arrays(
            [batch.column("part").take(idx).combine_chunks(),
             batch.column("doc_id").take(idx).combine_chunks(),
             counted.column("term").combine_chunks(),
             tf,
             pa.array(dl_np, pa.int64()).take(idx).combine_chunks()],
            names=["part", "doc_id", "term", "tf", "dl"])


def _write_segments(part_docs, index_dir: str, n_parts: int, dyn: dict,
                    aligned: bool = False, derive_part: bool = False,
                    profile: str = "code"):
    """Tokenize + per-doc term counts -> hive-partitioned segment table.

    ``aligned=True`` promises every input task holds rows of a single
    ``part`` (checkpointed mode reading staged/part=K) — the write then
    needs no repartition at all. ``derive_part=True`` (one-shot builds)
    REPLACES the doc-hash part with ``spark_partition_id() % n_parts``:
    phase A then has ZERO exchanges — tokenize+count runs straight off
    the input scan and each task writes one part dir. Sound because the
    final index is invariant to part assignment (parts are only the
    file layout + checkpoint granularity); doc-hash parts only matter
    in checkpointed mode, where the staged/part=K layout — not this
    flag — pins the doc->part mapping for resume. Otherwise content is
    routed to its part first so each task writes exactly ONE partition
    dir (one open parquet writer per task; writing from
    arbitrary-partitioned data would open tasks x parts writers and
    thrash the parquet memory manager at high core counts).
    """
    if derive_part:
        docs = part_docs.select(
            F.pmod(F.spark_partition_id(), F.lit(n_parts)).cast("int")
             .alias("part"), "doc_id", "text")
    else:
        docs = part_docs.select("part", "doc_id", "text")
        if not aligned:
            docs = docs.repartition(n_parts, "part")
    counted = docs.mapInArrow(
        lambda it: _fused_count_batches(it, profile),
        "part int, doc_id long, term string, tf long, dl long")
    (counted.write.partitionBy("part").mode("overwrite").options(**dyn)
     .parquet(f"{index_dir}/segments"))


def _manifest_segment_rows(spark, index_dir: str, parts: list[int],
                           build_id: str, input_snapshot: str,
                           driver_stats_max_bytes: int | None = None):
    """Per-part lineage rows from the written segments (DuckDB scan when
    small, Spark agg otherwise — no extra Spark job in the common case)."""
    seg_path = f"{index_dir}/segments"
    if driver_stats_max_bytes is None:
        driver_stats_max_bytes = DRIVER_STATS_MAX_BYTES
    if _dir_bytes(seg_path) <= driver_stats_max_bytes:
        import duckdb
        rows = duckdb.connect().execute(
            f"SELECT part, count(DISTINCT doc_id), count(DISTINCT term) "
            f"FROM read_parquet('{seg_path}/*/*.parquet', hive_partitioning=1) "
            f"WHERE part IN ({', '.join(str(p) for p in parts)}) "
            f"GROUP BY part").fetchall()
        by_part = {int(p): (int(dc), int(tcnt)) for p, dc, tcnt in rows}
    else:
        # lineage METRICS (not query statistics): approx_count_distinct
        # keeps this a map-side-combinable single pass instead of two
        # exact-distinct shuffles per checkpoint
        got = (spark.read.parquet(seg_path)
               .filter(F.col("part").isin(parts))
               .groupBy("part")
               .agg(F.approx_count_distinct("doc_id").alias("dc"),
                    F.approx_count_distinct("term").alias("tcnt")).collect())
        by_part = {int(r.part): (int(r.dc), int(r.tcnt)) for r in got}
    now = time.time()
    _append_manifest(spark, index_dir, [(
        build_id, "segment", p, "done",
        by_part.get(p, (0, 0))[0], by_part.get(p, (0, 0))[1],
        _dir_bytes(f"{seg_path}/part={p}"), input_snapshot, now)
        for p in parts])


def write_stats(index_dir: str, n_docs: int, avgdl: float,
                hot_threshold: int, block_size: int,
                profile: str = "code") -> None:
    """Single-row stats table written directly with pyarrow. The
    ``dense`` flag records whether the CURRENT postings are in ordinal
    space — readers cross-check it against the docmap's presence so a
    lost/stale docmap is a hard error, never silently-wrong doc_ids."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    dense = os.path.exists(docmap_path(postings_path(index_dir)))
    shutil.rmtree(f"{index_dir}/stats", ignore_errors=True)
    os.makedirs(f"{index_dir}/stats", exist_ok=True)
    pq.write_table(pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avgdl": pa.array([avgdl], pa.float64()),
        "hot_threshold": pa.array([hot_threshold], pa.int64()),
        "block_size": pa.array([block_size], pa.int32()),
        "dense": pa.array([dense], pa.bool_()),
        # the analyzer profile documents are tokenized with — readers
        # analyze query text with the SAME profile (ADVICE r4): an
        # index is a (postings, analyzer) pair, like a Lucene schema
        "profile": pa.array([profile], pa.string()),
    }), f"{index_dir}/stats/stats.parquet")


def _postings_term_count(index_dir: str) -> int:
    """Distinct terms in the final postings (driver DuckDB when small)."""
    p = postings_path(index_dir)
    if _dir_bytes(p) <= DRIVER_STATS_MAX_BYTES:
        import duckdb
        return int(duckdb.connect().execute(
            f"SELECT count(DISTINCT term) FROM read_parquet('{p}/*.parquet')"
        ).fetchone()[0])
    return -1  # unknown without a full scan; left to offline compaction


def read_manifest(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(f"{index_dir}/manifest")


def _encode_partition(batch_iter, block_size: int):
    """mapInArrow over (term, shard)-hash-partitioned, sorted input:
    encode each group's postings into codec blocks.

    Arrow-native on purpose (membw design, VERDICT r2 item 1): the old
    mapInPandas pass materialized every posting row's term as a Python
    str (tens of millions of object allocations per partition) and
    re-sorted data the JVM had already sorted. Here terms stay in Arrow
    buffers — ``dictionary_encode`` (C++) yields int codes for run
    detection, the output term column is built by ``take`` on the
    dictionary, and the upstream sortWithinPartitions order is verified
    (cheap vectorized check) instead of re-derived. Every group of the
    batch is block-encoded by one ``codec.encode_runs`` call, whose
    output is the Arrow blocks column itself: no Python object per
    group, block or posting.

    A (term, shard) group split across Arrow batches yields one output
    row per fragment; fragments are non-overlapping and doc-ordered
    (input is partition-sorted), and all consumers treat rows per
    (term, shard) additively.
    """
    import numpy as np
    import pyarrow as pa

    for batch in batch_iter:
        if batch.num_rows == 0:
            continue
        enc = batch.column("term").dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False)
        shard = batch.column("shard").to_numpy(zero_copy_only=False)
        doc = batch.column("doc_id").to_numpy(zero_copy_only=False)
        tf = batch.column("tf").to_numpy(zero_copy_only=False)
        dl = batch.column("dl").to_numpy(zero_copy_only=False)
        change = np.empty(len(codes), dtype=bool)
        change[0] = True
        change[1:] = (codes[1:] != codes[:-1]) | (shard[1:] != shard[:-1])
        # the encoder's correctness rests on the upstream sort — verify
        # it (docs strictly increasing within each run) rather than
        # silently emitting corrupt blocks if a plan change drops it
        if not np.all(change[1:] | (doc[1:] > doc[:-1])):
            raise RuntimeError("encode input not sorted by (term, shard, "
                              "doc_id) — upstream sortWithinPartitions "
                              "missing?")
        starts = np.flatnonzero(change)
        sizes = np.diff(np.append(starts, len(codes)))
        yield pa.RecordBatch.from_arrays([
            enc.dictionary.take(pa.array(codes[starts])),
            pa.array(shard[starts].astype(np.int32), pa.int32()),
            pa.array(sizes.astype(np.int64), pa.int64()),
            pa.array(np.add.reduceat(tf, starts).astype(np.int64),
                     pa.int64()),
            codec.encode_runs(sizes, doc, tf, dl, block_size),
        ], names=["term", "shard", "df", "cf", "blocks"])


def _old_tombstones(index_dir: str) -> list[str]:
    """Tombstone files present before a fresh build: they name docs of
    the corpus being replaced (by ordinal on a dense index), so the
    build drops them with ``_drop_tombstones`` once its own postings
    are in place — left behind, they would hide the new corpus's docs
    at the same ordinals or ids."""
    from .delete import _tombstone_files  # lazy: delete imports build
    return _tombstone_files(index_dir)


def _drop_tombstones(index_dir: str, files: list[str]) -> None:
    if files:
        from .delete import clear_tombstones
        clear_tombstones(index_dir, files)


def build_index(docs: DataFrame, index_dir: str, *,
                n_parts: int = 8, n_salts: int = 8,
                dense_doc_ids: bool = False,
                hot_threshold: int | None = None,
                block_size: int = codec.BLOCK_SIZE,
                resume: bool = False,
                fail_after_parts: int | None = None,
                parts_per_job: int | None = None,
                input_snapshot: str = "",
                driver_stats_max_bytes: int | None = None,
                merge_runs: bool = False,
                id_col: str = "doc_id", text_col: str = "text",
                profile: str = "code") -> None:
    """Build the index at ``index_dir``.

    ``profile`` is the tokenizer/analyzer profile (tokenizer.PROFILES);
    it is stamped into stats/ so readers analyze queries identically.

    ``parts_per_job`` controls the checkpoint-granularity / job-overhead
    trade: each phase-A Spark job processes that many partitions (all
    pending by default — minimal fixed overhead; manifest rows are still
    per-part). Set to 1 for the finest resume granularity (tests do).
    ``fail_after_parts`` simulates a crash for resumability tests.
    """
    spark = docs.sparkSession
    build_id = uuid.uuid4().hex[:12]
    dyn = {"partitionOverwriteMode": "dynamic"}
    stale = [] if resume else _old_tombstones(index_dir)
    if not resume:
        # A fresh build over an existing index_dir is a REBUILD: drop
        # state owned by the previous build so it cannot leak into this
        # one. (a) The POSTINGS_CURRENT pointer: after a compact()/
        # stream refresh it targets a versioned dir, and this build
        # writes plain 'postings' — without the reset every reader
        # would keep resolving the pre-rebuild postings. (b) Stream
        # epoch segments: encode_postings unions segments_stream when
        # present, which belongs to the previous corpus, not this one.
        import shutil
        cur = f"{index_dir}/POSTINGS_CURRENT"
        if os.path.exists(cur):
            with open(cur) as f:
                prev = f.read().strip()
            os.remove(cur)
            shutil.rmtree(f"{index_dir}/{prev}", ignore_errors=True)
            shutil.rmtree(docmap_path(f"{index_dir}/{prev}"),
                          ignore_errors=True)
        shutil.rmtree(f"{index_dir}/segments_stream", ignore_errors=True)
        shutil.rmtree(docmap_path(f"{index_dir}/postings"),
                      ignore_errors=True)
    prepared = (docs.select(F.col(id_col).alias("doc_id"),
                            F.col(text_col).alias("text"))
                .withColumn("part", F.pmod(F.xxhash64("doc_id"),
                                           F.lit(n_parts)).cast("int")))

    # checkpointed mode: stage the input once (hash-partitioned by doc)
    # so per-part resume reads only its partition; one-shot mode (all
    # parts in a single job, no resume) skips staging — the extra full
    # write+read would be pure overhead
    checkpointed = (resume or fail_after_parts is not None
                    or (parts_per_job is not None and parts_per_job < n_parts))

    if not checkpointed and not dense_doc_ids and not merge_runs:
        # One-shot sparse build: delegate to the fused teed pass — ONE
        # tokenize+count+encode job that writes the durable segments as
        # a side effect, instead of a segment-write job followed by a
        # segment-read+encode job. Byte-equal postings and stats
        # (tests/test_streaming.py::test_teed_build_equals_batch...),
        # measured N->4N scaling 0.83 vs 0.716 for the two-pass plan
        # (benchmarks/scaling_teed.json). The legacy two-pass path
        # remains for what it alone supports: per-part resume /
        # crash-checkpointed builds, dense ordinals, eager merge_runs.
        build_index_teed(docs, index_dir, n_parts=n_parts, n_salts=n_salts,
                         hot_threshold=hot_threshold, block_size=block_size,
                         input_snapshot=input_snapshot, id_col=id_col,
                         text_col=text_col, out_name="postings",
                         profile=profile,
                         driver_stats_max_bytes=driver_stats_max_bytes)
        return

    if checkpointed:
        staged_path = f"{index_dir}/staged"
        if not (resume and os.path.exists(staged_path)):
            (prepared.repartition(n_parts, "part")
             .write.partitionBy("part").mode("overwrite").parquet(staged_path))
            _append_manifest(spark, index_dir,
                             [(build_id, "stage", -1, "done",
                               _parquet_rows(staged_path), 0,
                               _dir_bytes(staged_path), input_snapshot, time.time())])
        done: set[int] = set()
        if resume and os.path.exists(f"{index_dir}/manifest"):
            m = read_manifest(spark, index_dir)
            done = {r.part for r in
                    m.filter((m.phase == "segment") & (m.status == "done")).collect()}
        pending = [p for p in range(n_parts) if p not in done]
        ppj = parts_per_job if parts_per_job else max(len(pending), 1)
        if fail_after_parts is not None:
            ppj = 1  # crash simulation needs per-part granularity
        processed = 0
        for s in range(0, len(pending), ppj):
            batch = pending[s:s + ppj]
            if fail_after_parts is not None and processed >= fail_after_parts:
                raise RuntimeError(f"simulated crash after {processed} parts")
            part_docs = (spark.read.parquet(staged_path)
                         .filter(F.col("part").isin(batch)))
            _write_segments(part_docs, index_dir, n_parts, dyn,
                            aligned=True, profile=profile)
            _manifest_segment_rows(spark, index_dir, batch, build_id,
                                   input_snapshot, driver_stats_max_bytes)
            processed += len(batch)
    else:
        # ---- one-shot phase A: tokenize straight from the input,
        # zero exchanges (part = input split id; see _write_segments) --
        _write_segments(prepared, index_dir, n_parts, dyn,
                        derive_part=True, profile=profile)
        _manifest_segment_rows(spark, index_dir, list(range(n_parts)),
                               build_id, input_snapshot,
                               driver_stats_max_bytes)

    # ---- phase B: global stats + salted posting encode ----
    n_docs, avgdl, hot_threshold = encode_postings(
        spark, index_dir, n_salts=n_salts, hot_threshold=hot_threshold,
        block_size=block_size, driver_stats_max_bytes=driver_stats_max_bytes,
        dense_doc_ids=dense_doc_ids, merge_runs=merge_runs)
    write_stats(index_dir, n_docs, avgdl, int(hot_threshold), block_size,
                profile=profile)
    _drop_tombstones(index_dir, stale)
    _append_manifest(spark, index_dir, [(
        build_id, "postings", -1, "done", n_docs,
        _postings_term_count(index_dir),
        _dir_bytes(postings_path(index_dir)), input_snapshot, time.time())])


def build_index_teed(docs: DataFrame, index_dir: str, *,
                     n_docs: int | None = None,
                     n_parts: int = 8,
                     n_salts: int = 8,
                     hot_threshold: int | None = None,
                     block_size: int = codec.BLOCK_SIZE,
                     input_snapshot: str = "",
                     id_col: str = "doc_id",
                     text_col: str = "text",
                     out_name: str | None = None,
                     profile: str = "code",
                     driver_stats_max_bytes: int | None = None) -> None:
    """Checkpointed build at direct-build cost: ONE fused pass
    (tokenize -> count -> sort -> run-encode, like
    ``build_index_direct``) that TEES the counted batches to the
    durable ``segments/`` table as they stream into ``_encode_runs`` —
    the segment checkpoint is written as a side effect of the encode
    pass instead of a separate write job + read job. This removes the
    two extra materializations of the token table that cost the
    default checkpointed build its scaling efficiency (VERDICT r3
    item 3) while keeping what the segments buy: full streaming
    refresh (``refresh_postings`` incremental AND full) and exact
    distributed stats reruns.

    Each task writes exactly one parquet file into its
    ``segments/part=<pid %% n_parts>/`` dir via write-to-temp +
    atomic-rename keyed by partition id, so a retried task simply
    replaces its own file with identical content (the input split is
    deterministic). Trade vs ``build_index``: no per-part RESUME of a
    crashed build (the fused job is all-or-nothing, like direct mode)
    and sparse doc_ids only; postings adoption is the same crash-safe
    versioned-dir + pointer swap as direct mode.
    """
    import shutil

    spark = docs.sparkSession
    build_id = uuid.uuid4().hex[:12]
    # default: build into a fresh versioned dir adopted by the atomic
    # POSTINGS_CURRENT flip. ``out_name`` (the build_index delegation)
    # writes straight to that directory instead — the legacy fresh-build
    # layout, same crash semantics as the one-shot batch build had.
    new_name = out_name if out_name is not None else f"postings_{build_id}"
    new_dir = f"{index_dir}/{new_name}"
    seg_dir = f"{index_dir}/segments"
    stale = _old_tombstones(index_dir)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(f"{index_dir}/segments_stream", ignore_errors=True)
    os.makedirs(seg_dir, exist_ok=True)

    prepared = docs.select(
        F.pmod(F.spark_partition_id(), F.lit(n_parts)).cast("int")
         .alias("part"),
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def pipe(batch_iter):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        import pyarrow.compute as pc

        writer = None
        tmp = final = None
        n_task_docs = 0
        n_task_tokens = 0

        def tee(counted):
            nonlocal writer, tmp, final, n_task_docs, n_task_tokens
            for cb in counted:
                if writer is None:
                    ctx = TaskContext.get()
                    pid = ctx.partitionId() if ctx else 0
                    part = int(cb.column("part")[0].as_py())
                    d = f"{seg_dir}/part={part}"
                    os.makedirs(d, exist_ok=True)
                    final = f"{d}/task-{pid:05d}.parquet"
                    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
                    writer = pq.ParquetWriter(
                        tmp, pa.schema([("doc_id", pa.int64()),
                                        ("term", pa.string()),
                                        ("tf", pa.int64()),
                                        ("dl", pa.int64())]))
                # each doc is ONE input row of exactly one task, so
                # per-batch distinct doc_ids sum to the task's distinct
                # docs, and task counts sum to the corpus's (tokenless
                # docs yield no rows — the same N semantics phase B
                # derives from the segments)
                n_task_docs += len(pc.unique(cb.column("doc_id")))
                n_task_tokens += int(pc.sum(cb.column("tf")).as_py() or 0)
                writer.write_batch(pa.record_batch(
                    [cb.column("doc_id"), cb.column("term"),
                     cb.column("tf"), cb.column("dl")],
                    names=["doc_id", "term", "tf", "dl"]))
                yield cb

        try:
            yield from _encode_runs(tee(_fused_count_batches(batch_iter,
                                                             profile)),
                                    block_size)
        finally:
            if writer is not None:
                writer.close()
                os.replace(tmp, final)
                # sidecar doc count (underscore prefix: invisible to
                # Spark/Hadoop listings and to the *.parquet globs);
                # written with the same atomic replace discipline, same
                # deterministic name under task retry/speculation
                base = os.path.basename(final)
                nd_final = os.path.join(os.path.dirname(final),
                                        f"_{base}.ndocs")
                nd_tmp = f"{nd_final}.tmp-{uuid.uuid4().hex[:8]}"
                with open(nd_tmp, "w") as f:
                    f.write(f"{n_task_docs} {n_task_tokens}")
                os.replace(nd_tmp, nd_final)

    runs = prepared.mapInArrow(pipe, POSTINGS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    write_postings(salted.repartition("term", "shard"), new_dir)

    if driver_stats_max_bytes is None:
        driver_stats_max_bytes = DRIVER_STATS_MAX_BYTES
    total_tf = None
    if n_docs is None:
        # same semantics as the batch build's phase B (N = distinct
        # docs in the teed segments), but at ZERO extra jobs: each tee
        # task recorded its own distinct-doc count in a sidecar (docs
        # are partition-local facts — one input row each — so the task
        # counts sum exactly). Fallback for sidecar-less segment dirs:
        # DuckDB scan when small, Spark distinct-count otherwise.
        nd_files = [os.path.join(root, fn)
                    for root, _dirs, files in os.walk(seg_dir)
                    for fn in files if fn.endswith(".ndocs")]
        if nd_files:
            pairs = [open(p).read().split() for p in nd_files]
            n_docs = sum(int(a) for a, _b in pairs)
            total_tf = sum(int(b) for _a, b in pairs)
        elif _dir_bytes(seg_dir) <= driver_stats_max_bytes:
            import duckdb
            n_docs = int(duckdb.connect().execute(
                f"SELECT count(DISTINCT doc_id) FROM "
                f"read_parquet('{seg_dir}/*/*.parquet')").fetchone()[0])
        else:
            n_docs = int(spark.read.parquet(seg_dir)
                         .select("doc_id").distinct().count())
    if total_tf is None:
        import duckdb
        total_tf = duckdb.connect().execute(
            f"SELECT coalesce(sum(cf), 0) FROM "
            f"read_parquet('{new_dir}/*.parquet')").fetchone()[0] \
            if _dir_bytes(new_dir) <= driver_stats_max_bytes \
            else spark.read.parquet(new_dir)
        if not isinstance(total_tf, (int, float)):
            total_tf = int(total_tf.agg(F.sum("cf")).first()[0] or 0)
    avgdl = float(total_tf) / n_docs if n_docs else 0.0
    if hot_threshold is None:
        hot_threshold = max(2 * codec.BLOCK_SIZE, n_docs // max(n_salts, 1))
    if out_name is None:
        swap_postings(index_dir, new_name)
    write_stats(index_dir, int(n_docs), avgdl, int(hot_threshold),
                block_size, profile=profile)
    _drop_tombstones(index_dir, stale)
    _append_manifest(spark, index_dir, [(
        build_id, "postings_teed", -1, "done", int(n_docs),
        _postings_term_count(index_dir),
        _dir_bytes(new_dir), input_snapshot, time.time())])


def build_index_direct(docs: DataFrame, index_dir: str, *,
                       n_docs: int | None = None,
                       n_salts: int = 8,
                       hot_threshold: int | None = None,
                       block_size: int = codec.BLOCK_SIZE,
                       input_snapshot: str = "",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> None:
    """ONE-PASS ephemeral build: tokenize -> per-doc count -> chunk
    sort -> run encode COMPOSED inside a single mapInArrow (generator
    pipeline, one python-worker crossing), then the fragment-salted
    shuffle and the postings write. No segments, no staging: the
    fragments ARE the durable state (Lucene does not persist its raw
    token stream either), which removes two full materializations of
    the token table from the critical path.

    Trade-offs vs ``build_index`` (its segments are the checkpoint):
    no per-partition resume, no FULL streaming refresh (incremental
    fold still works — it only encodes new epochs), sparse doc_ids
    only. Stats stay exact: n_docs from the caller or a count over the
    input (parquet sources answer from footers), total tokens =
    sum(cf) over fragment METADATA (every posting's tf counted exactly
    once because fragments partition the postings).
    """
    spark = docs.sparkSession
    build_id = uuid.uuid4().hex[:12]
    # Build into a FRESH versioned dir and adopt it via the atomic
    # POSTINGS_CURRENT flip (same protocol as refresh/compact), so a
    # crash or failed job mid-build leaves the previous index fully
    # queryable instead of deleted (ADVICE r3).
    new_name = f"postings_{build_id}"
    new_dir = f"{index_dir}/{new_name}"
    stale = _old_tombstones(index_dir)

    prepared = docs.select(F.lit(0).alias("part"),
                           F.col(id_col).alias("doc_id"),
                           F.col(text_col).alias("text"))

    def pipe(batch_iter):
        return _encode_runs(_fused_count_batches(batch_iter), block_size)

    runs = prepared.mapInArrow(pipe, POSTINGS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    write_postings(salted.repartition("term", "shard"), new_dir)

    if n_docs is None:
        n_docs = docs.count()
    # exact avgdl from fragment metadata (vocab-scale driver read)
    import duckdb
    total_tf = duckdb.connect().execute(
        f"SELECT coalesce(sum(cf), 0) FROM "
        f"read_parquet('{new_dir}/*.parquet')").fetchone()[0] \
        if _dir_bytes(new_dir) <= DRIVER_STATS_MAX_BYTES \
        else spark.read.parquet(new_dir)
    if not isinstance(total_tf, (int, float)):
        total_tf = int(total_tf.agg(F.sum("cf")).first()[0] or 0)
    avgdl = float(total_tf) / n_docs if n_docs else 0.0
    if hot_threshold is None:
        hot_threshold = max(2 * codec.BLOCK_SIZE, n_docs // max(n_salts, 1))
    swap_postings(index_dir, new_name)
    write_stats(index_dir, int(n_docs), avgdl, int(hot_threshold),
                block_size)
    _drop_tombstones(index_dir, stale)
    _append_manifest(spark, index_dir, [(
        build_id, "postings_direct", -1, "done", int(n_docs),
        _postings_term_count(index_dir),
        _dir_bytes(new_dir), input_snapshot, time.time())])


# B1 chunk bound: fragments are encoded per accumulated chunk, so this
# caps UDF memory (~rows x 48B -> ~200 MB) while keeping the fragment
# count per term near the task count (one fragment per term per chunk).
RUNS_CHUNK_ROWS = 4_000_000

# dense-ordinal remap ships the (doc_id -> ord) map to B1 tasks as a
# broadcast numpy pair; beyond this doc count per build the map stops
# being broadcastable and ordinals should be assigned part-major
# (local rank + per-part base offsets) — documented future work; builds
# are incremental, so a single build's doc count is a design knob.
DENSE_BROADCAST_MAX_DOCS = 200_000_000


def _encode_runs(batch_iter, block_size: int, remap_bc=None):
    """Phase B1: per-partition partial posting runs, NO shuffle.

    This is the north rule's literal architecture ("build per-partition
    inverted indexes ... then hierarchically merge partition indexes"):
    each task accumulates its segment rows into bounded chunks, sorts a
    chunk by (term, doc) in Arrow (C++), and block-encodes it into
    partial runs via _encode_partition. What later crosses the B2
    shuffle is delta+varint COMPRESSED runs with one term string per
    fragment — not one row per posting — which is the memory-bandwidth
    design cut of VERDICT r2 item 1 (at 200k docs: ~240 MB of raw
    shuffle rows became ~10 MB of runs).

    ``remap_bc``: optional broadcast (sorted doc_id array, aligned ord
    array) for dense-ordinal builds — applied before the sort, so runs
    are encoded directly in ordinal space.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def flush(buf):
        t = pa.Table.from_batches(buf)
        if remap_bc is not None:
            keys, ords = remap_bc.value
            doc = t.column("doc_id").to_numpy(zero_copy_only=False)
            pos = np.searchsorted(keys, doc)
            ok = (pos < len(keys))
            if not ok.all() or not (keys[pos[ok]] == doc[ok]).all():
                raise RuntimeError("dense remap: doc_id missing from "
                                   "ordinal map — docmap out of sync "
                                   "with segments")
            t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                             pa.array(ords[pos], pa.int64()))
        idx = pc.sort_indices(t, sort_keys=[("term", "ascending"),
                                            ("doc_id", "ascending")])
        t = t.take(idx).combine_chunks()
        n = t.num_rows
        batch = pa.record_batch(
            [t.column("term").combine_chunks(),
             pa.array(np.zeros(n, np.int32), pa.int32()),
             t.column("doc_id").combine_chunks(),
             t.column("tf").combine_chunks(),
             t.column("dl").combine_chunks()],
            names=["term", "shard", "doc_id", "tf", "dl"])
        yield from _encode_partition(iter([batch]), block_size)

    buf, rows = [], 0
    for b in batch_iter:
        if b.num_rows == 0:
            continue
        buf.append(b)
        rows += b.num_rows
        if rows >= RUNS_CHUNK_ROWS:
            yield from flush(buf)
            buf, rows = [], 0
    if buf:
        yield from flush(buf)


def _group_starts(batch, keys: list[str]):
    """Row indices where a key group starts in a batch sorted by
    ``keys`` (row 0 always does)."""
    import numpy as np
    import pyarrow.compute as pc
    n = batch.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        col = batch.column(k)
        change[1:] |= pc.not_equal(col.slice(1), col.slice(0, n - 1)
                                   ).to_numpy(zero_copy_only=False)
    return np.flatnonzero(change)


def _whole_groups(batch_iter, keys: list[str], max_merge_docs: int):
    """Re-cut a stream of Arrow batches sorted by ``keys`` so that no
    key group spans two batches. Spark cuts a partition every
    maxRecordsPerBatch rows, wherever a group happens to lie, so each
    batch's trailing group is held, as a list of slices concatenated
    once when the group ends. Yields (batch, whole). ``whole`` is False
    for rows of a group whose summed ``df`` has passed
    ``max_merge_docs``: that group passes through unmerged anyway, so
    its rows go out as they arrive and no more of it is held."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def concat(parts):
        if len(parts) == 1:
            return parts[0]
        return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]

    def df_sum(b):
        return pc.sum(b.column("df")).as_py() or 0

    def opens_with(batch, ref):
        return all(pc.equal(batch.column(k)[0],
                            ref.column(k)[ref.num_rows - 1]).as_py()
                   for k in keys)

    held, held_df = [], 0
    passing = None   # last row of a group that is passing through
    for batch in batch_iter:
        n = batch.num_rows
        if n == 0:
            continue
        starts = _group_starts(batch, keys)
        ref = held[-1] if held else passing
        cont = 0
        if ref is not None and opens_with(batch, ref):
            cont = int(starts[1]) if len(starts) > 1 else n
        if cont and passing is not None:
            yield batch.slice(0, cont), False
        elif cont:
            held.append(batch.slice(0, cont))
            held_df += df_sum(held[-1])
        if cont < n:
            # the pending group ended: it goes out with this batch's
            # whole groups, and the batch's last group is held
            passing = None
            tail = int(starts[-1])
            out = held + ([batch.slice(cont, tail - cont)]
                          if tail > cont else [])
            if out:
                yield concat(out), True
            held = [batch.slice(tail)]
            held_df = df_sum(held[0])
        if held and held_df > max_merge_docs:
            passing = held[-1].slice(held[-1].num_rows - 1)
            yield concat(held), False
            held, held_df = [], 0
    if held:
        yield concat(held), True


def _merge_plan(batch_iter, keys: list[str], max_merge_docs: int):
    """Per batch of whole ``keys`` groups (input sorted by ``keys``):
    (rows passing through untouched, rows to merge, the row count of
    each group to merge). Single-row groups and groups above
    ``max_merge_docs`` pass through: fragments are valid additive rows,
    so a 10^12-scale mega-term never has to fit one task (its rows
    stream through, see ``_whole_groups``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    for batch, whole in _whole_groups(batch_iter, keys, max_merge_docs):
        if not whole:
            yield batch, batch.slice(0, 0), np.zeros(0, dtype=np.int64)
            continue
        n = batch.num_rows
        starts = _group_starts(batch, keys)
        sizes = np.diff(np.append(starts, n))
        df = batch.column("df").to_numpy(zero_copy_only=False)
        merge_g = (sizes > 1) & (np.add.reduceat(df, starts)
                                 <= max_merge_docs)
        merge_r = pa.array(np.repeat(merge_g, sizes))
        yield (batch.filter(pc.invert(merge_r)), batch.filter(merge_r),
               sizes[merge_g])


def _merge_fragments(batch_iter, keys: list[str], block_size: int,
                     max_merge_docs: int):
    """mapInArrow over postings rows sorted by ``keys``: merge each key
    group's fragments into ONE row (a bounded-fan-in k-way merge, see
    ``_merge_plan`` for what passes through). Per batch: one bulk
    decode, one lexsort by (group, doc), one ``codec.encode_runs``. A
    merged row keeps its shard when ``shard`` is a key, else lands in
    shard 0."""
    import numpy as np
    import pyarrow as pa
    cols = ["term", "shard", "df", "cf", "blocks"]
    for keep, sub, sizes in _merge_plan(batch_iter, keys, max_merge_docs):
        if keep.num_rows:
            yield keep.select(cols)
        if not sub.num_rows:
            continue
        row, doc, tf, dl = codec.decode_runs(sub.column("blocks"))
        group = np.repeat(np.arange(len(sizes)), sizes)[row]
        order = np.lexsort((doc, group))
        lens = np.bincount(group, minlength=len(sizes))
        firsts = pa.array(np.append(0, np.cumsum(sizes)[:-1]))
        shard = (sub.column("shard").take(firsts) if "shard" in keys
                 else pa.array(np.zeros(len(lens), np.int32)))
        yield pa.RecordBatch.from_arrays([
            sub.column("term").take(firsts), shard,
            pa.array(lens, pa.int64()),
            pa.array(np.bincount(group, weights=tf,
                                 minlength=len(lens)).astype(np.int64)),
            codec.encode_runs(lens, doc[order], tf[order], dl[order],
                              block_size),
        ], names=cols)


def encode_postings(spark: SparkSession, index_dir: str, *,
                    n_salts: int = 8, hot_threshold: int | None = None,
                    block_size: int = codec.BLOCK_SIZE,
                    out_name: str = "postings",
                    driver_stats_max_bytes: int | None = None,
                    dense_doc_ids: bool | None = None,
                    merge_runs: bool = False,
                    max_merge_docs: int = 50_000_000
                    ) -> tuple[int, float, int]:
    """Phase B: corpus stats + B1 partial-run encode (shuffle-free) +
    B2 salted merge of COMPRESSED runs, from ``index_dir``/segments
    (plus ``segments_stream`` epoch dirs, if a stream has appended)
    into ``index_dir``/``out_name``.
    Returns (n_docs, avgdl, hot_threshold). Shared by the batch builder
    and the streaming refresh."""
    seg_path = f"{index_dir}/segments"
    stream_path = f"{index_dir}/segments_stream"
    has_stream = os.path.exists(stream_path)
    if not os.path.isdir(seg_path):
        raise FileNotFoundError(
            f"{seg_path} missing — this index was built with "
            "build_index_direct (no segment checkpoint): use "
            "refresh_postings(incremental=True) for stream appends, or "
            "rebuild with build_index for a refreshable index")
    tc = spark.read.parquet(seg_path).select("doc_id", "term", "tf", "dl")
    if has_stream:
        tc = tc.unionByName(spark.read.parquet(stream_path)
                            .select("doc_id", "term", "tf", "dl"))
    seg_globs = [f"{seg_path}/*/*.parquet"]
    if has_stream:
        seg_globs.append(f"{stream_path}/*/*/*.parquet")  # epoch=/part=
    glob_sql = "[" + ", ".join(f"'{g}'" for g in seg_globs) + "]"
    total_bytes = _dir_bytes(seg_path) + (_dir_bytes(stream_path)
                                          if has_stream else 0)
    if driver_stats_max_bytes is None:
        driver_stats_max_bytes = DRIVER_STATS_MAX_BYTES
    if total_bytes <= driver_stats_max_bytes:
        # small corpus: global stats via a driver-side DuckDB scan of
        # the segment parquet (zero Spark jobs)
        import duckdb
        con = duckdb.connect()
        n_docs, total_tf = con.execute(
            f"SELECT count(DISTINCT doc_id), sum(tf) FROM "
            f"read_parquet({glob_sql})").fetchone()
        n_docs = int(n_docs)
        avgdl = float(total_tf) / n_docs if n_docs else 0.0
        dl_cached = None
    else:
        # big corpus: N and avgdl from the per-doc length table (one row
        # per doc after map-side combine over the pruned (doc_id, tf)
        # columns — term strings never leave the parquet scan here)
        dl_cached = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
        g = dl_cached.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).first()
        n_docs = int(g["n"])
        avgdl = float(g["s"]) / n_docs if n_docs else 0.0
    if hot_threshold is None:
        hot_threshold = max(2 * codec.BLOCK_SIZE, n_docs // max(n_salts, 1))
    if dense_doc_ids is None:
        # refresh parity: a dense index must stay dense across stream
        # refreshes without the caller re-stating the flag
        dense_doc_ids = os.path.exists(
            docmap_path(f"{index_dir}/{out_name}")) \
            or os.path.exists(docmap_path(postings_path(index_dir)))
    if not dense_doc_ids:
        # a sparse (re-)encode over a previously-dense index must not
        # leave the old docmap behind — readers would misinterpret the
        # raw doc_ids as ordinals
        import shutil
        shutil.rmtree(docmap_path(f"{index_dir}/{out_name}"),
                      ignore_errors=True)
    remap_bc = None
    if dense_doc_ids:
        # dense ordinals: postings delta-encode 0..n-1 ords instead of
        # random xxhash64 ids — deltas shrink from ~2^57 (8-9 varint
        # bytes) to ~n/df (1-2 bytes). The (ord, doc_id) map is written
        # next to the postings (docmap_path) and the top-k edge
        # translates back through the reader's resident copy of the map
        # (IndexReader.resolve_ords). B1 remaps doc_id -> ord BEFORE
        # encoding (the map rides a broadcast as two sorted numpy
        # arrays; ordinals are assigned in doc_id order, so doc-sorted
        # chunks stay ord-sorted).
        if n_docs > DENSE_BROADCAST_MAX_DOCS:
            raise ValueError(
                f"dense_doc_ids: {n_docs} docs exceeds the broadcastable "
                f"ordinal map bound ({DENSE_BROADCAST_MAX_DOCS}); split "
                "the build or use sparse doc_ids")
        # The full (doc_id -> ord) map is a DRIVER-scale object by
        # construction here (the remap broadcast below holds it whole,
        # and the bound above enforces that), so assign ordinals on the
        # driver instead of running a distributed range-sort whose
        # output the driver would re-read anyway: distinct ids come
        # from the same DuckDB segment scan that computed the stats
        # (zero Spark jobs) or, for over-budget segment dirs, from an
        # Arrow collect of the one-row-per-doc length table — the same
        # bytes the broadcast ships right after. Sorting the ids IS the
        # ordinal assignment (ordinals are dense 0..n-1 in doc_id
        # order). The map is written ord-sorted, which is the layout
        # load_docmap validates and serves as one array.
        import shutil

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        if dl_cached is not None:
            id_tbl = dl_cached.select("doc_id").toArrow()
        else:
            import duckdb
            id_tbl = duckdb.connect().execute(
                f"SELECT DISTINCT doc_id FROM "
                f"read_parquet({glob_sql})").fetch_arrow_table()
        doc_arr = np.sort(id_tbl.column("doc_id").to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False))
        if len(doc_arr) != n_docs:
            raise RuntimeError(
                f"dense ordinal assignment: {len(doc_arr)} distinct ids "
                f"!= n_docs {n_docs} — segments changed under the build")
        ord_arr = np.arange(len(doc_arr), dtype=np.int64)
        dm_dir = docmap_path(f"{index_dir}/{out_name}")
        shutil.rmtree(dm_dir, ignore_errors=True)
        os.makedirs(dm_dir, exist_ok=True)
        pq.write_table(
            pa.table({"ord": ord_arr, "doc_id": doc_arr}),
            f"{dm_dir}/part-00000.parquet", row_group_size=1_000_000)
        remap_bc = spark.sparkContext.broadcast((doc_arr, ord_arr))

    # ---- B1 + B2 as ONE job: segments scan -> per-partition run
    # encode (_encode_runs, shuffle-free) -> fragment-salted shuffle of
    # COMPRESSED runs -> postings write. Nothing intermediate is ever
    # materialized: at 200k docs the old plan shuffled ~240 MB of raw
    # (term, doc, tf, dl) rows; this one ships ~56 MB of encoded runs
    # (sparse; dense runs are 3x smaller again), the memory-bandwidth
    # cut VERDICT r2 item 1 asked for.
    #
    # Salting is per FRAGMENT and UNCONDITIONAL: each doc appears in
    # exactly one fragment per term (fragments partition the doc space),
    # so routing a fragment by hash(term, first_doc) % n_salts keeps the
    # "one shard per (term, doc)" query invariant for every term while
    # bounding any reduce task's share of a mega-term to ~1/n_salts of
    # its fragments — NO per-term hot-term detection pass is needed at
    # all (the old design's df-threshold prepass cost a full extra
    # aggregation over the token table). Routing is by hash, so any
    # file can hold any term: pruning comes from write_postings, which
    # sorts each file by term into bounded row groups — a cold term's
    # fragments then sit in one row group per file.
    runs = tc.mapInArrow(lambda it: _encode_runs(it, block_size, remap_bc),
                         POSTINGS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    # Default is LSM semantics: fragments are valid additive postings
    # rows (every consumer — term_dfs, WAND block pruning, decode
    # scorers, batch scorer — treats rows per (term, shard) additively,
    # and fragments are only ~1% larger on disk than merged lists at
    # 200k docs), so the build just CO-LOCATES them by (term, shard);
    # ``compact()`` performs the hierarchical bounded-fan-in merge as
    # the offline compaction step, exactly like LSM/Lucene segment
    # merging. merge_runs=True merges eagerly in-build instead (decode +
    # re-encode of every multi-fragment group — roughly doubles encode
    # cost; sortWithinPartitions over vocab-scale fragment rows keeps
    # each group contiguous for the per-batch merge).
    routed = salted.repartition("term", "shard")
    if merge_runs:
        routed = (routed.sortWithinPartitions("term", "shard")
                  .mapInArrow(lambda it: _merge_fragments(
                      it, ["term", "shard"], block_size, max_merge_docs),
                      POSTINGS_SCHEMA))
    write_postings(routed, f"{index_dir}/{out_name}")
    if dl_cached is not None:
        dl_cached.unpersist()
    if remap_bc is not None:
        remap_bc.unpersist()
    return n_docs, avgdl, int(hot_threshold)


def compact(spark: SparkSession, index_dir: str, *,
            max_merge_docs: int = 5_000_000,
            block_size: int = codec.BLOCK_SIZE) -> None:
    """Hierarchical bounded-fan-in merge of hot-term shards: decode the
    <= n_salts sorted runs per term, k-way merge, re-encode. Terms whose
    total df exceeds ``max_merge_docs`` stay sharded (a 10^12-scale 'def'
    never needs to live in one task). The swap is crash-safe: the new
    directory is fully written, then the POSTINGS_CURRENT pointer flips
    atomically (see postings_path)."""
    p = spark.read.parquet(postings_path(index_dir))
    sizes = p.groupBy("term").agg(F.sum("df").alias("df_total"),
                                  F.count("*").alias("n_shards"))
    todo = sizes.filter((F.col("n_shards") > 1) &
                        (F.col("df_total") <= max_merge_docs)).select("term")
    keep = p.join(F.broadcast(todo), "term", "left_anti")

    merged = (p.join(F.broadcast(todo), "term")
              .repartition("term").sortWithinPartitions("term")
              .mapInArrow(lambda it: _merge_fragments(
                  it, ["term"], block_size, max_merge_docs),
                  POSTINGS_SCHEMA))
    new_name = f"postings_{uuid.uuid4().hex[:12]}"
    write_postings(merged.unionByName(keep), f"{index_dir}/{new_name}")
    # dense indexes: the ordinal space is unchanged by a merge, so the
    # docmap is carried to the new postings name BEFORE the pointer
    # swap (swap deletes the old postings AND its docmap)
    old_dm = docmap_path(postings_path(index_dir))
    if os.path.exists(old_dm):
        # hardlink the (immutable) parquet files instead of copying:
        # same crash-safety — the old docmap stays intact until the
        # pointer swap — at O(files) cost instead of O(bytes)
        import shutil
        new_dm = docmap_path(f"{index_dir}/{new_name}")
        os.makedirs(new_dm, exist_ok=True)
        for f in os.listdir(old_dm):
            try:
                os.link(os.path.join(old_dm, f), os.path.join(new_dm, f))
            except OSError:  # cross-device: fall back to a copy
                shutil.copy2(os.path.join(old_dm, f),
                             os.path.join(new_dm, f))
    swap_postings(index_dir, new_name)


class _FileRowGroups(NamedTuple):
    """One postings file in the reader's row-group index."""
    path: str
    md: object           # pyarrow FileMetaData, parsed once
    leaves: dict         # top-level column -> parquet leaf indices
    reach: list          # running max of the ranged groups' term max
    ranged: list         # (min, max, row group) sorted by min
    unranged: list       # row groups without term statistics


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: bool = True):
        """``cache`` persists the postings DataFrame (MEMORY_AND_DISK,
        spills gracefully) — right for repeated-query serving; a
        one-shot scan at extreme scale can pass cache=False."""
        self.spark = spark
        self.index_dir = index_dir
        # resolved once at construction: a compaction that swaps the
        # pointer mid-session requires a new reader (documented at
        # postings_path)
        self.postings_dir = postings_path(index_dir)
        self.cache = cache
        self._post: DataFrame | None = None
        self._term_df: dict[str, int] | None = None
        self._decoded = None
        self._decoded_rows = 0
        self._docsets = None
        self._docset_rows = 0
        self._duck = None
        self._ord_doc_ids = None
        self._rg_index = None
        # tombstones resolve at construction, like the postings pointer:
        # a reader serves the live set it saw when built (cheap — a glob
        # plus a small parquet read only when deletes exist)
        from .delete import load_tombstones
        self._tomb = load_tombstones(index_dir)
        st = spark.read.parquet(f"{index_dir}/stats").first()
        self.n_docs = st.n_docs
        self.avgdl = st.avgdl
        self.block_size = st.block_size
        # dense: this postings dir was encoded in ordinal space (a
        # ``<postings>_docmap`` directory travels with it). Cross-checked
        # against the stats ``dense`` flag, which round-1 indexes predate
        # (None: docmap presence alone decides): a dense index whose
        # docmap was lost (partial restore/copy) raises instead of
        # silently serving ordinals as doc_ids.
        has_map = os.path.exists(docmap_path(self.postings_dir))
        stats_dense = getattr(st, "dense", None)
        if stats_dense is not None and stats_dense != has_map:
            raise RuntimeError(
                f"index at {index_dir}: stats says dense={stats_dense} "
                f"but docmap {'exists' if has_map else 'is missing'} at "
                f"{docmap_path(self.postings_dir)} — refusing to serve "
                "possibly-mistranslated doc_ids")
        self.dense = has_map
        # pre-profile indexes lack the column -> "code" (their builder)
        self.profile = getattr(st, "profile", None) or "code"

    def postings(self) -> DataFrame:
        if self._post is None:
            p = self.spark.read.parquet(self.postings_dir)
            self._post = p.persist() if self.cache else p
        return self._post

    def _term_row_groups(self) -> list:
        """Per postings file: its parsed footer, the leaf columns of each
        top-level column, and one ``term`` (min, max) pair per row group
        — the driver's whole view of the dictionary layout, never a term
        list. Built once from the footers alone; each read reopens the
        file with the kept ``FileMetaData``, so the reader holds no
        descriptors. Ranged groups are ordered by min with a running max
        of their maxes (``reach``), so ``_row_groups_in`` bisects both
        ends; a group without statistics (an older or unsorted writer)
        is always a candidate."""
        if self._rg_index is None:
            import glob
            from itertools import accumulate

            import pyarrow.parquet as pq
            self._rg_index = []
            for path in sorted(glob.glob(f"{self.postings_dir}/*.parquet")):
                md = pq.read_metadata(path)
                leaves: dict[str, list[int]] = {}
                for i in range(md.num_columns):
                    top = md.schema.column(i).path.split(".")[0]
                    leaves.setdefault(top, []).append(i)
                (col,) = leaves["term"]
                ranged, unranged = [], []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(col).statistics
                    if (st is not None and st.has_min_max
                            and isinstance(st.min, str)):
                        ranged.append((st.min, st.max, g))
                    else:
                        unranged.append(g)
                ranged.sort()
                self._rg_index.append(_FileRowGroups(
                    path, md, leaves,
                    list(accumulate((r[1] for r in ranged), max)),
                    ranged, unranged))
        return self._rg_index

    def _row_groups_in(self, lo: str, hi: str | None) -> dict:
        """{file position: row-group ids} keeping every row group whose
        term range can hold a term in [lo, hi) (``hi=None``: unbounded).
        On a term-sorted file this is two bisects and a window of
        adjacent groups."""
        from bisect import bisect_left
        plan = {}
        for k, f in enumerate(self._term_row_groups()):
            # (hi,) sorts before every (hi, max, g): end is the first
            # group whose min is >= hi
            end = (len(f.ranged) if hi is None
                   else bisect_left(f.ranged, (hi,)))
            groups = [f.ranged[j][2]
                      for j in range(bisect_left(f.reach, lo), end)
                      if f.ranged[j][1] >= lo] + f.unranged
            if groups:
                plan[k] = set(groups)
        return plan

    def _read_row_group(self, f, g: int, columns: list[str]):
        """``columns`` of row group ``g`` of postings file ``f`` (one
        open, one single-threaded read, one close): every dictionary,
        postings and expansion read. These reads, and the kernels over
        them, use the system allocator, not Arrow's jemalloc pool, which
        keeps the freed pages of every miss resident for its decay time
        (+3.5 MB, 1.5%, driver peak RSS on the 6k-doc benchmark index,
        4-core host). The pool is passed per call, never set globally."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        reader = pq.ParquetReader(memory_pool=pa.system_memory_pool())
        reader.open(f.path, metadata=f.md)
        try:
            return reader.read_row_group(
                g, column_indices=[i for c in columns for i in f.leaves[c]],
                use_threads=False)
        finally:
            reader.close()

    def _read_rows(self, plan: dict, columns: list[str]):
        """Yield ``columns`` of each planned row group as an Arrow
        table, in file and row-group order."""
        files = self._term_row_groups()
        for k in sorted(plan):
            for g in sorted(plan[k]):
                yield self._read_row_group(files[k], g, columns)

    def _read_terms(self, terms: list[str], column: str):
        """Yield ``(term, value of column)`` for every postings row of
        ``terms``, read from the candidate row groups of each term's
        point range."""
        import pyarrow as pa
        import pyarrow.compute as pc
        plan: dict = {}
        for t in terms:
            # [t, t + NUL) holds t alone: NUL is the least code point
            for k, groups in self._row_groups_in(t, t + "\0").items():
                plan.setdefault(k, set()).update(groups)
        pool = pa.system_memory_pool()
        wanted = pa.array(terms, pa.string(), memory_pool=pool)
        for tbl in self._read_rows(plan, ["term", column]):
            hit = pc.filter(tbl, pc.is_in(tbl.column("term"),
                                          value_set=wanted,
                                          memory_pool=pool),
                            memory_pool=pool)
            yield from zip(hit.column("term").to_pylist(),
                           hit.column(column).to_pylist())

    # per-term dictionary cache bound: ~100k entries is a few MB on the
    # driver regardless of corpus vocabulary size
    TERM_CACHE_MAX = 100_000

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """(term -> df) for EXACTLY the requested terms. A miss reads the
        ``(term, df)`` columns of only the row groups whose footer
        min/max can hold a missing term (``_term_row_groups``) — one
        small row group per postings file on a term-sorted index; the
        blocks column is never touched. Results — including misses,
        stored as 0 — go into a bounded LRU so repeated serving never
        re-reads, and the driver NEVER materializes the full vocabulary
        (at code-corpus scale the term dictionary is billions of
        entries)."""
        from collections import OrderedDict
        if self._term_df is None:
            self._term_df = OrderedDict()
        cache = self._term_df
        missing = [t for t in dict.fromkeys(terms) if t not in cache]
        if missing:
            got: dict[str, int] = dict.fromkeys(missing, 0)
            for t, d in self._read_terms(missing, "df"):
                got[t] += d
            for t in missing:
                cache[t] = got[t]
            while len(cache) > self.TERM_CACHE_MAX:
                cache.popitem(last=False)
        out = {}
        for t in dict.fromkeys(terms):
            if t in cache:
                cache.move_to_end(t)
                if cache[t] > 0:
                    out[t] = cache[t]
        return out

    # decoded-postings LRU bound, in posting ROWS (not terms): a hot
    # term's list is n_docs long, a cold term's is 1 — bounding by rows
    # bounds driver memory (~24 bytes/row -> ~1.5 GB at the default,
    # modest for a serving coordinator). This bound IS the
    # driver-vs-distributed routing rule (wand._fastpath_bound): a
    # query whose working set fits the cache serves from numpy; a
    # web-scale mega-term (10^9-row postings) exceeds any driver cache
    # and takes the distributed block-max plan. Raised 4M -> 64M in
    # round 5 after the batched path proved the working-set size at 2M
    # docs (and cut the count collector 35x by keeping it driver-side).
    POSTINGS_CACHE_MAX_ROWS = 64_000_000

    def decoded_postings(self, terms: list[str]) -> dict:
        """term -> (doc_ids, tfs, dls) numpy arrays, concatenated over
        the term's fragments with tombstones already applied — the
        driver serving path's working set. Misses are fetched in ONE
        read of the row groups whose term range can hold them (all
        missing terms per call, see ``_term_row_groups``) and kept in an
        LRU bounded by total cached posting rows, so a sustained query
        stream stops re-reading and re-decoding its hot terms entirely.
        Sound to cache per reader: both the postings pointer and the
        tombstone set are fixed at reader construction. Empty results
        are cached too (repeated miss-queries are free)."""
        from collections import OrderedDict
        if self._decoded is None:
            self._decoded = OrderedDict()
            self._decoded_rows = 0
        cache = self._decoded
        req = list(dict.fromkeys(terms))
        # protect THIS query's cached terms from the eviction below by
        # moving them to the LRU tail first — without this, a query
        # mixing one old cached hot term with fresh hot terms could
        # evict the old one mid-call and KeyError at scoring (seen at
        # 2M docs, where single posting lists approach the row budget)
        for t in req:
            if t in cache:
                cache.move_to_end(t)
        missing = [t for t in req if t not in cache]
        if missing:
            from . import codec
            from .delete import keep_mask
            got: dict[str, list] = {t: [] for t in missing}
            for term, blocks in self._read_terms(missing, "blocks"):
                got[term].append(codec.decode_blocks(blocks))
            import numpy as np
            for t in missing:
                if got[t]:
                    d = np.concatenate([g[0] for g in got[t]])
                    tf = np.concatenate([g[1] for g in got[t]])
                    dl = np.concatenate([g[2] for g in got[t]])
                    if self._tomb.size:
                        m = keep_mask(d, self._tomb)
                        d, tf, dl = d[m], tf[m], dl[m]
                else:
                    d = np.empty(0, np.int64)
                    tf = dl = np.empty(0, np.int64)
                cache[t] = (d, tf, dl)
                self._decoded_rows += len(d)
            # oldest-first eviction only ever reaches non-requested
            # entries: every requested term now sits at the tail, and
            # the len guard stops before the cache shrinks below them
            while (self._decoded_rows > self.POSTINGS_CACHE_MAX_ROWS
                   and len(cache) > len(req)):
                _, (d, _t, _d2) = cache.popitem(last=False)
                self._decoded_rows -= len(d)
        return {t: cache[t] for t in req}

    # doc-set LRU bound, in rows — Lucene's LRUQueryCache analog for
    # clause-level match sets (phrase / sloppy-phrase doc sets, which
    # cost a positional-sidecar job to compute and are reused verbatim
    # by every repeat of the clause in a serving stream)
    DOCSET_CACHE_MAX_ROWS = 16_000_000

    def docset_cache(self, key: str, compute) -> "np.ndarray":
        """Memoized sorted int64 doc-set for a clause, keyed by the
        clause's canonical string. Sound to cache per reader for the
        same reason decoded_postings is: postings pointer, positional
        sidecar, and tombstone set are all fixed at reader
        construction. The result array is treated as immutable by every
        caller. Bounded by total cached rows, oldest evicted first."""
        from collections import OrderedDict
        import numpy as np
        if self._docsets is None:
            self._docsets = OrderedDict()
            self._docset_rows = 0
        cache = self._docsets
        if key in cache:
            cache.move_to_end(key)
            return cache[key]
        arr = np.ascontiguousarray(compute(), dtype=np.int64)
        cache[key] = arr
        self._docset_rows += len(arr)
        while (self._docset_rows > self.DOCSET_CACHE_MAX_ROWS
               and len(cache) > 1):
            _, old = cache.popitem(last=False)
            self._docset_rows -= len(old)
        return arr

    # DuckDB worker threads for the reader's connection. One: it serves
    # one client's small reads (docmap load, metadata filters, sort,
    # facets, more-like-this), and each extra worker keeps its own
    # allocator arenas resident — on a 6k-doc dense index (4-core host)
    # the default four workers held driver peak RSS 16-18 MB (7-8%)
    # above one worker, at the same warm query latency. Dictionary and
    # postings misses and the expansions never run here: they read their
    # candidate row groups with pyarrow (_read_rows).
    READER_DUCKDB_THREADS = 1

    def _duckdb(self):
        """One long-lived DuckDB connection per reader: per-query
        connection setup is pure overhead on the serving path."""
        if self._duck is None:
            import duckdb
            self._duck = duckdb.connect()
            self._duck.execute(
                f"SET threads={self.READER_DUCKDB_THREADS}")
        return self._duck

    def tombstones(self):
        """Sorted int64 array of tombstoned ids in posting space
        (ordinals when dense) — empty array when the index has no
        deletes. Loaded at construction: like the postings-pointer
        resolution, a reader serves the live set it saw at
        construction; deletes issued later need a new reader."""
        return self._tomb

    def term_postings(self, terms: list[str]) -> DataFrame:
        # predicate pushdown on `term` prunes row groups at the scan
        return self.postings().filter(F.col("term").isin(terms))

    def _docmap_ids(self):
        """The docmap as one doc_id array indexed by ordinal, loaded on
        the first translation and kept for the reader's lifetime. Sound
        for the same reason the LRUs are: the postings version, and the
        docmap that travels with it, are fixed at construction. Its
        size is the dense build's own driver-side map (bounded by
        DENSE_BROADCAST_MAX_DOCS)."""
        if self._ord_doc_ids is None:
            self._ord_doc_ids = load_docmap(self._duckdb(),
                                            self.postings_dir)
        return self._ord_doc_ids

    def resolve_ords(self, ords):
        """ord -> doc_id (int64 array, same order as ``ords``) for a
        dense index: an array take on the resident docmap, no I/O."""
        import numpy as np
        return self._docmap_ids()[np.asarray(ords, dtype=np.int64)]

    def ords_of(self, doc_ids):
        """doc_id -> ord for a dense index: the sorted ordinals of the
        ``doc_ids`` present in the docmap (unknown ids are dropped), by
        binary search on the resident, doc_id-ascending map."""
        import numpy as np
        dm = self._docmap_ids()
        ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        pos = np.searchsorted(dm, ids)
        hit = pos < len(dm)
        hit[hit] = dm[pos[hit]] == ids[hit]
        return pos[hit].astype(np.int64, copy=False)

    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(docmap_path(self.postings_dir))
