"""Structured Streaming: incremental index maintenance.

The reference is strictly batch (SURVEY §2.13); the engine adds the
natural streaming extension: new documents arrive on a stream, each
micro-batch is tokenized and written as new segment rows under
``segments_stream/epoch=<id>/part=K`` (same (doc_id, term, tf) shape
phase A writes, plus the epoch key that makes replays idempotent),
with lineage rows in the manifest (phase='stream_append', one per
epoch). Postings are then
refreshed by re-running the salted encode over all segments
(``refresh_postings``) — segment appends are cheap and continuous,
posting refresh is periodic compaction, the classic LSM-ish split.

Test strategy: file-source stream with trigger(availableNow=True);
stream-append half the corpus onto an index built from the other half,
refresh, and assert decoded postings equal a single-shot build over
the full corpus (tests/test_streaming.py).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index.build import _append_manifest


def append_batch(batch_df: DataFrame, index_dir: str, epoch_id: int,
                 n_parts: int = 8, id_col: str = "doc_id",
                 text_col: str = "text") -> None:
    """Append one micro-batch of documents as segment rows.

    IDEMPOTENT per epoch: foreachBatch gives at-least-once semantics, so
    a batch replayed after a failure between the parquet write and the
    checkpoint commit must not duplicate rows. Each epoch writes to its
    own hive partition ``segments_stream/epoch=<id>/part=K`` with dynamic
    partition overwrite — a replay overwrites exactly its own epoch dirs
    instead of appending duplicates that would double-count tf/df."""
    from .index.build import _fused_count_batches

    spark = batch_df.sparkSession
    docs = batch_df.select(F.col(id_col).alias("doc_id"),
                           F.col(text_col).alias("text"))
    # same fused Arrow tokenize+count pass as the batch builder
    # (epoch rows must carry the dl column the run encoder reads)
    tc = (docs.withColumn(
        "part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
        .select("part", "doc_id", "text")
        .repartition(n_parts, "part")
        .mapInArrow(_fused_count_batches,
                    "part int, doc_id long, term string, tf long, dl long")
        .withColumn("epoch", F.lit(int(epoch_id))))
    (tc.write.partitionBy("epoch", "part")
       .option("partitionOverwriteMode", "dynamic")
       .mode("overwrite").parquet(f"{index_dir}/segments_stream"))
    _append_manifest(spark, index_dir, [(
        f"stream_{uuid.uuid4().hex[:8]}", "stream_append", int(epoch_id),
        "done", docs.count(), 0, 0, "", time.time())])


def incremental_index(stream_docs: DataFrame, index_dir: str,
                      checkpoint_dir: str, n_parts: int = 8,
                      id_col: str = "doc_id", text_col: str = "text"):
    """Attach a streaming DataFrame to an index dir. Returns the
    StreamingQuery (caller picks the trigger/await)."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, eid: append_batch(
                df, index_dir, eid, n_parts, id_col, text_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def refresh_postings(spark: SparkSession, index_dir: str, *,
                     n_salts: int = 8, hot_threshold: int | None = None,
                     block_size: int | None = None,
                     incremental: bool = False) -> None:
    """Fold stream appends into the queryable index.

    ``incremental=False``: full rebuild of postings/stats from all
    segments (batch + stream epochs). O(corpus) — the right call after
    massive churn or for dense-ordinal indexes.

    ``incremental=True``: LSM fold — ONLY the not-yet-folded stream
    epochs are run-encoded and their fragments APPENDED to the current
    postings (old parquet files are immutable and hardlinked into the
    new versioned dir, new fragment files written next to them, stats
    updated from the epoch delta, then the crash-safe pointer swap).
    O(new docs), not O(corpus): at 10^12-file scale a periodic refresh
    must not re-encode the world. Valid because fragments are additive
    postings rows (streamed docs are NEW doc_ids, so every (term, doc)
    still lives in exactly one fragment) — the same invariant the batch
    build rests on; ``compact()`` later merges fragment buildup. Folded
    epochs are recorded in the manifest (phase='refresh_fold') so
    repeated incremental refreshes skip them; sparse indexes only
    (dense needs ordinal extension -> use a full refresh)."""
    from .index import codec
    from .index.build import encode_postings, swap_postings, write_stats

    if block_size is None:
        block_size = codec.BLOCK_SIZE
    if incremental:
        _incremental_fold(spark, index_dir, n_salts=n_salts,
                          hot_threshold=hot_threshold,
                          block_size=block_size)
        return
    # apply outstanding deletes BEFORE re-encoding: a full refresh is a
    # rewrite anyway (the natural purge moment, like a Lucene segment
    # merge), and a DENSE rebuild reassigns ordinals — stale
    # ordinal-space tombstones would mask the wrong docs. Segment
    # filtering is idempotent/per-file-atomic; the tombstones are
    # cleared only after the pointer swap commits, so any crash retries
    # cleanly (see delete.py::purge_segment_checkpoints).
    from .index.delete import (_tombstone_files, clear_tombstones,
                               purge_segment_checkpoints)
    tomb_snapshot = _tombstone_files(index_dir)
    purge_segment_checkpoints(spark, index_dir)
    new_name = f"postings_{uuid.uuid4().hex[:12]}"
    n_docs, avgdl, hot_threshold = encode_postings(
        spark, index_dir, n_salts=n_salts, hot_threshold=hot_threshold,
        block_size=block_size, out_name=new_name)
    # a full refresh consumes every epoch — fold state must COMMIT WITH
    # the pointer swap, so the folded-epoch set is written INSIDE the
    # new postings dir before the flip (crash before the swap: old
    # pointer + old fold set; after: new pointer + new set — no window
    # where they disagree). The manifest rows below are lineage only.
    import os
    stream_path = f"{index_dir}/segments_stream"
    epochs: list[int] = []
    if os.path.exists(stream_path):
        epochs = [int(d.split("=", 1)[1]) for d in os.listdir(stream_path)
                  if d.startswith("epoch=")]
    write_folded_epochs(f"{index_dir}/{new_name}", set(epochs))
    swap_postings(index_dir, new_name)
    write_stats(index_dir, n_docs, avgdl, hot_threshold, block_size)
    clear_tombstones(index_dir, tomb_snapshot)
    if epochs:
        _append_manifest(spark, index_dir, [(
            f"fold_{uuid.uuid4().hex[:8]}", "refresh_fold", int(e),
            "done", 0, 0, 0, "", time.time()) for e in epochs])


# hidden-file name ('_' prefix): Spark, pyarrow.dataset and the DuckDB
# '*.parquet' globs all skip it when scanning the postings dir
FOLDED_FILE = "_folded_epochs.json"


def write_folded_epochs(postings_dir: str, epochs: set[int]) -> None:
    """Record the cumulative folded-epoch set inside a postings dir
    (written BEFORE the POSTINGS_CURRENT swap adopts that dir, so fold
    bookkeeping is atomic with the pointer)."""
    import json
    import os
    os.makedirs(postings_dir, exist_ok=True)
    tmp = f"{postings_dir}/{FOLDED_FILE}.tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(int(e) for e in epochs), f)
    os.replace(tmp, f"{postings_dir}/{FOLDED_FILE}")


def read_folded_epochs(spark: SparkSession, index_dir: str) -> set[int]:
    """Folded epochs as seen by the CURRENT postings version. Falls
    back to manifest 'refresh_fold' rows for indexes built before fold
    state travelled with the postings dir."""
    import json
    import os

    from .index.build import postings_path, read_manifest
    p = f"{postings_path(index_dir)}/{FOLDED_FILE}"
    if os.path.exists(p):
        with open(p) as f:
            return {int(e) for e in json.load(f)}
    if os.path.exists(f"{index_dir}/manifest"):
        m = read_manifest(spark, index_dir)
        return {int(r.part) for r in
                m.filter((m.phase == "refresh_fold")
                         & (m.status == "done")).collect()}
    return set()


def _incremental_fold(spark: SparkSession, index_dir: str, *,
                      n_salts: int, hot_threshold: int | None,
                      block_size: int,
                      check_duplicates: bool = True) -> None:
    import os
    import shutil

    from pyspark.sql import functions as F

    from .index.build import (POSTINGS_SCHEMA, _encode_runs, docmap_path,
                              postings_path, swap_postings, write_postings,
                              write_stats)

    cur = postings_path(index_dir)
    if os.path.exists(docmap_path(cur)):
        raise ValueError(
            "incremental refresh supports sparse indexes only (dense "
            "ordinal space cannot be extended in place) — run "
            "refresh_postings(incremental=False)")
    stream_path = f"{index_dir}/segments_stream"
    if not os.path.exists(stream_path):
        return
    all_epochs = {int(d.split("=", 1)[1]) for d in os.listdir(stream_path)
                  if d.startswith("epoch=")}
    # fold state travels with the postings version (ADVICE r3): resolve
    # via the CURRENT pointer, not the manifest, so a crash between
    # bookkeeping and swap can never mark epochs folded that the live
    # postings do not contain (or vice versa)
    folded = read_folded_epochs(spark, index_dir)
    todo = sorted(all_epochs - folded)
    if not todo:
        return

    if check_duplicates:
        _check_no_duplicate_doc_ids(spark, index_dir, stream_path,
                                    todo, sorted(folded))

    # run-encode ONLY the new epochs (same path as the batch build) and
    # write their fragments into the new versioned postings dir
    tc = (spark.read.parquet(stream_path)
          .filter(F.col("epoch").isin([int(e) for e in todo]))
          .select("doc_id", "term", "tf", "dl"))
    new_name = f"postings_{uuid.uuid4().hex[:12]}"
    new_dir = f"{index_dir}/{new_name}"
    runs = tc.mapInArrow(lambda it: _encode_runs(it, block_size, None),
                         POSTINGS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    write_postings(
        runs.withColumn("shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
        .repartition("term", "shard"), new_dir)
    # adopt the immutable current postings files (hardlink, O(files));
    # uuid part-file names cannot collide across writes
    for f in os.listdir(cur):
        if not f.endswith(".parquet"):
            continue
        try:
            os.link(os.path.join(cur, f), os.path.join(new_dir, f))
        except OSError:
            shutil.copy2(os.path.join(cur, f), os.path.join(new_dir, f))

    # stats from the old row + the epoch DELTA (one small agg over the
    # new epochs, never the whole corpus)
    st = spark.read.parquet(f"{index_dir}/stats").first()
    d = (tc.groupBy("doc_id").agg(F.max("dl").alias("dl"))
         .agg(F.count("*").alias("n"), F.sum("dl").alias("s")).first())
    n_new, sum_new = int(d["n"] or 0), int(d["s"] or 0)
    n_docs = int(st.n_docs) + n_new
    avgdl = ((float(st.avgdl) * int(st.n_docs)) + sum_new) / max(n_docs, 1)
    if hot_threshold is None:
        hot_threshold = max(2 * block_size, n_docs // max(n_salts, 1))
    # commit: fold set INSIDE the new dir, then the atomic pointer flip
    # (crash before the flip → old pointer still pairs with the old
    # fold set and a retry re-folds `todo` into a fresh dir; the
    # orphaned new dir is never referenced). Manifest rows are lineage.
    write_folded_epochs(new_dir, folded | set(todo))
    swap_postings(index_dir, new_name)
    write_stats(index_dir, n_docs, avgdl, int(hot_threshold), block_size)
    _append_manifest(spark, index_dir, [(
        f"fold_{uuid.uuid4().hex[:8]}", "refresh_fold", int(e), "done",
        n_new, 0, 0, "", time.time()) for e in todo])


def _check_no_duplicate_doc_ids(spark: SparkSession, index_dir: str,
                                stream_path: str, todo: list[int],
                                folded: list[int]) -> None:
    """Enforce the additive-fragment contract: streamed doc_ids must be
    NEW. A re-appended doc_id would put one (term, doc) in two
    fragments — BM25 double-scores it and df/cf/n_docs inflate — so the
    fold raises instead of silently corrupting the index (ADVICE r3).

    Coverage: new epochs vs already-folded epochs, duplicates ACROSS
    new epochs (within one epoch the hive-partition overwrite already
    makes replays idempotent), and vs the base build's ``segments``
    checkpoint when it exists (one column-pruned doc_id scan with
    map-side partial aggregation). Direct-built indexes keep no
    segment checkpoint, so base overlap there stays a documented
    caller contract."""
    import os

    from pyspark.sql import functions as F

    seg = spark.read.parquet(stream_path)
    parts = [seg.filter(F.col("epoch").isin([int(e) for e in todo]))
             .select("doc_id", "epoch").distinct()]
    if folded:
        parts.append(seg.filter(F.col("epoch").isin(
            [int(e) for e in folded]))
            .select("doc_id", F.lit(-1).alias("epoch")).distinct())
    base = f"{index_dir}/segments"
    if os.path.isdir(base):
        parts.append(spark.read.parquet(base)
                     .select("doc_id", F.lit(-2).alias("epoch")).distinct())
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    bad = (u.groupBy("doc_id")
           .agg(F.count("*").alias("n"),
                F.max(F.col("epoch") >= 0).alias("in_new"))
           .filter((F.col("n") > 1) & F.col("in_new"))
           .limit(10).collect())
    if bad:
        ids = ", ".join(str(int(r.doc_id)) for r in bad)
        raise ValueError(
            "incremental fold: doc_ids already present in the index "
            f"were re-appended (sample: {ids}). Streamed doc_ids must "
            "be new — deduplicate upstream or run "
            "refresh_postings(incremental=False) to rebuild.")


def windowed_event_counts(stream_events: DataFrame,
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming form of ops.events.events_windowed: tumbling 1-hour
    event counts with a watermark bounding late-data state. Append-mode
    sinks emit a window only once the watermark passes its end — the
    standard late-data design (SURVEY §2.13 engine extension).

    Tested in tests/test_streaming.py: files fed out of order through
    a stream (availableNow) produce exactly the batch result.
    """
    return (stream_events
            # watermarks need TIMESTAMP (LTZ); parquet NTZ casts cleanly
            # under the session's fixed UTC timezone
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.unix_timestamp("w.start").alias("window_start"),
                    "event_type", "n_events", "total_value"))
