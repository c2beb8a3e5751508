"""Capacity-scale lifecycle bench: build -> WAND -> compact() -> WAND
parity -> stream-append + refresh -> WAND (VERDICT r2 item 6).

At N docs (default 2M, the round-2 validated capacity size):
1. full build (fragment-consolidated postings, the LSM default),
2. WAND top-10 over the 21-query set (pre-compact),
3. ``compact()`` — the hierarchical bounded-fan-in merge,
4. WAND again + PARITY assert (rank/doc/score identical pre/post),
5. append ``n_stream`` new docs through the streaming path +
   ``refresh_postings``, then assert the appended docs are retrievable
   and old queries still parity-match where unaffected.

Writes benchmarks/capacity_2m.json (embedded by bench.py).

Usage: python scripts/capacity_bench.py [n_docs] [n_stream] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pke_spark.corpus import synth_corpus, with_doc_ids  # noqa: E402
from pke_spark.index.build import (IndexReader, _dir_bytes,  # noqa: E402
                                   build_index, compact, postings_path)
from pke_spark.index.wand import wand_topk  # noqa: E402
from pke_spark.session import get_spark  # noqa: E402
from pke_spark.streaming import append_batch, refresh_postings  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402


def wand_suite(spark, ix_dir, k=10):
    ix = IndexReader(spark, ix_dir)
    lat, results = [], {}
    for i, q in enumerate(BENCH_QUERIES):
        t0 = time.time()
        rows = wand_topk(ix, q, k).collect()
        lat.append(time.time() - t0)
        results[i] = [(r.rank, r.doc_id, r.score) for r in rows]
    return statistics.median(lat), results


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_stream = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("capacity", cpus=cpus, shuffle_partitions=128,
                      extra_conf={"spark.local.dir": "/dev/shm/spark_cap"})
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_docs": n_docs, "n_stream": n_stream, "cpus": cpus}
    ix_dir = tempfile.mkdtemp(prefix="pke_capacity_", dir="/dev/shm")

    corpus = with_doc_ids(synth_corpus(spark, n_docs, partitions=256))
    docs = corpus.select("doc_id", corpus.content.alias("text"))
    t0 = time.time()
    build_index(docs, ix_dir, n_parts=64, n_salts=8,
                driver_stats_max_bytes=0)
    out["build_sec"] = round(time.time() - t0, 2)
    out["build_docs_per_sec"] = round(n_docs / out["build_sec"], 1)
    out["postings_bytes"] = _dir_bytes(postings_path(ix_dir))

    p50_pre, res_pre = wand_suite(spark, ix_dir)
    out["wand_p50_precompact"] = round(p50_pre, 4)

    t0 = time.time()
    compact(spark, ix_dir)
    out["compact_sec"] = round(time.time() - t0, 2)
    out["postings_bytes_compacted"] = _dir_bytes(postings_path(ix_dir))

    p50_post, res_post = wand_suite(spark, ix_dir)
    out["wand_p50_postcompact"] = round(p50_post, 4)
    assert res_pre == res_post, "WAND results changed across compact()"
    out["compact_parity"] = "identical top-10 (rank, doc, score) on all "\
        f"{len(BENCH_QUERIES)} queries"

    # ---- query-language serving at capacity (round 4) ----
    # positional sidecar + the full serving surface on the 2M-doc
    # index: phrase, proximity, prefix/fuzzy dictionary expansion,
    # querystring (driver-vs-distributed routing decides itself),
    # snippets. The synthetic corpus has no metadata columns, so
    # field-filter clauses are exercised at sf scale instead.
    from pke_spark.index import serving as SV
    from pke_spark.index.positions import (build_positions,
                                           phrase_topk_indexed,
                                           proximity_topk_indexed)
    t0 = time.time()
    build_positions(docs, ix_dir, n_salts=8)
    out["positions_build_sec"] = round(time.time() - t0, 2)
    ixq = IndexReader(spark, ix_dir)
    t0 = time.time()
    phrase_topk_indexed(spark, ix_dir, ["core", "lib"], 10).collect()
    out["phrase_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    proximity_topk_indexed(spark, ix_dir, "def", "return", 8, 10).collect()
    out["proximity_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    SV.prefix_search(ixq, "re", 10)
    out["prefix_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    SV.fuzzy_search(ixq, "retur", 1, 10)
    out["fuzzy_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    SV.querystring_search_indexed(
        ixq, '+def return -lexer "core lib" ind* retur~1', 10)
    out["querystring_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    SV.snippet_search(ixq, ["def", "return", "core"], 10)
    out["snippet_sec"] = round(time.time() - t0, 3)

    # late-round-4 surface at capacity: boosted/grouped querystring,
    # collectors, and the batched whole-set plan (full grammar per
    # query, ONE Spark job over the 2M-doc index)
    t0 = time.time()
    SV.querystring_search_indexed(
        ixq, '+def^2 (return yield) -lexer "core lib"~2 ind*^3', 10)
    out["querystring_rich_sec"] = round(time.time() - t0, 3)
    # warm repeats: the sustained-serving story — the decoded-postings
    # LRU holds the hot terms and the doc-set LRU holds the phrase
    # clause sets, so a repeat costs numpy set algebra only (round 5)
    t0 = time.time()
    SV.querystring_search_indexed(
        ixq, '+def return -lexer "core lib" ind* retur~1', 10)
    out["querystring_warm_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    SV.querystring_search_indexed(
        ixq, '+def^2 (return yield) -lexer "core lib"~2 ind*^3', 10)
    out["querystring_rich_warm_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    out["count_n_hits"] = SV.querystring_count_indexed(
        ixq, '+def return -lexer')
    out["count_sec"] = round(time.time() - t0, 3)
    base_terms = ["def", "return", "core", "lib", "index", "lexer",
                  "parse", "token", "yield", "class"]
    qset = {}
    for i in range(200):
        a, b = base_terms[i % 10], base_terms[(i // 2 + 3) % 10]
        c = base_terms[(i + 5) % 10]
        kind = i % 4
        if kind == 0:
            qset[f"q{i:03d}"] = f"{a} {b}"
        elif kind == 1:
            qset[f"q{i:03d}"] = f"+{a}^2 {b}" + \
                (f" -{c}" if c not in (a, b) else "")
        elif kind == 2:
            qset[f"q{i:03d}"] = (f"({a} {b}) core" if a != b
                                 else f"({a} core) lib")
        else:
            qset[f"q{i:03d}"] = f"{a} {b[:3]}*"
    t0 = time.time()
    n_rows = SV.querystring_topk_batch(ixq, qset, 10).count()
    dt = time.time() - t0
    out["batch200_querystring_sec"] = round(dt, 2)
    out["batch200_querystring_qps"] = round(200 / dt, 1)
    out["batch200_rows"] = int(n_rows)
    # the same 200-query set FORCED onto the distributed plan (budget
    # zeroed): what a mega-term union beyond any driver budget costs —
    # the round-5 score-once-then-constrain replan vs r4's 504 s.
    # Parity between the two paths is asserted on a 10-query sample.
    sample = {k: qset[k] for k in sorted(qset)[:10]}
    fast = sorted(map(tuple,
                      SV.querystring_topk_batch(ixq, sample, 10).collect()))
    old_budget = SV.BATCH_DRIVER_MAX_ROWS
    SV.BATCH_DRIVER_MAX_ROWS = 0
    try:
        t0 = time.time()
        n_rows_d = SV.querystring_topk_batch(ixq, qset, 10).count()
        dt = time.time() - t0
        out["batch200_distributed_sec"] = round(dt, 2)
        out["batch200_distributed_qps"] = round(200 / dt, 1)
        assert int(n_rows_d) == int(n_rows), \
            f"batch path row mismatch: {n_rows_d} != {n_rows}"
        dist = sorted(map(tuple,
                          SV.querystring_topk_batch(ixq, sample,
                                                    10).collect()))
        assert fast == dist, "batch fast/distributed parity broke"
        out["batch_path_parity"] = "fast == distributed on 10-query " \
            "sample; equal row counts on all 200"
    finally:
        SV.BATCH_DRIVER_MAX_ROWS = old_budget

    # ---- stream-append + refresh ----
    # new doc space: reuse synth content but derive doc ids with a salt
    # so the appended docs are genuinely new documents
    from pyspark.sql import functions as F
    extra = (with_doc_ids(synth_corpus(spark, n_stream, partitions=32))
             .select(F.xxhash64("repo", "path", "commit", F.lit("v2"))
                     .alias("doc_id"),
                     F.col("content").alias("text")))
    t0 = time.time()
    append_batch(extra, ix_dir, epoch_id=1, n_parts=64)
    out["stream_append_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    refresh_postings(spark, ix_dir)
    out["refresh_sec"] = round(time.time() - t0, 2)

    p50_ref, res_ref = wand_suite(spark, ix_dir)
    out["wand_p50_postrefresh"] = round(p50_ref, 4)
    ix2 = IndexReader(spark, ix_dir)
    assert ix2.n_docs == n_docs + n_stream, \
        f"refresh lost docs: {ix2.n_docs} != {n_docs + n_stream}"
    out["refresh_n_docs_ok"] = True

    # ---- LSM incremental fold: O(new docs), not O(corpus) ----
    extra2 = (with_doc_ids(synth_corpus(spark, n_stream, partitions=32))
              .select(F.xxhash64("repo", "path", "commit", F.lit("v3"))
                      .alias("doc_id"),
                      F.col("content").alias("text")))
    append_batch(extra2, ix_dir, epoch_id=2, n_parts=64)
    t0 = time.time()
    refresh_postings(spark, ix_dir, incremental=True)
    out["incremental_fold_sec"] = round(time.time() - t0, 2)
    ix3 = IndexReader(spark, ix_dir)
    assert ix3.n_docs == n_docs + 2 * n_stream, \
        f"fold lost docs: {ix3.n_docs}"
    p50_fold, _ = wand_suite(spark, ix_dir)
    out["wand_p50_postfold"] = round(p50_fold, 4)
    out["incremental_fold_n_docs_ok"] = True

    path = f"{ROOT}/benchmarks/capacity_2m.json"
    json.dump(out, open(path, "w"), indent=2)
    print(json.dumps(out))
    shutil.rmtree(ix_dir, ignore_errors=True)
    spark.stop()
    os._exit(0)


if __name__ == "__main__":
    main()
