"""Batched vs per-query query-string throughput at sf scale.

200 full-grammar query strings (same clause-shape mix as the capacity
bench: bare pairs, boosted+negated, groups, prefix expansion) against
a dense index over $SPARK_GRAFT_SF_DIR documents, three ways:

- ``querystring_topk_batch``: the whole set in one pass (the batch
  driver fast path when the union fits the budget, else the
  score-once-then-constrain distributed plan),
- the same set FORCED onto the distributed plan (budget zeroed), and
- 40 sequential ``querystring_search_indexed`` calls (the per-query
  serving path) scaled to a 200-query-equivalent QPS.

Writes benchmarks/batch_querystring.json (embedded in BASELINE.md).
Usage: python scripts/batch_bench.py [n_queries]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pke_spark.index import serving as SV  # noqa: E402
from pke_spark.index.build import IndexReader, build_index  # noqa: E402
from pke_spark.index.positions import build_positions  # noqa: E402
from pke_spark.session import get_spark  # noqa: E402


def query_set(n: int) -> dict[str, str]:
    base = ["def", "return", "core", "lib", "index", "lexer",
            "parse", "token", "yield", "class"]
    qset = {}
    for i in range(n):
        a, b = base[i % 10], base[(i // 2 + 3) % 10]
        c = base[(i + 5) % 10]
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
    return qset


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1
    n_docs = max(5000, int(1_000_000 * sf))
    spark = get_spark("batch_bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from pke_spark.corpus import synth_corpus, with_doc_ids
    corpus = with_doc_ids(synth_corpus(spark, n_docs, partitions=cpus))
    docs = corpus.select("doc_id", corpus.content.alias("text"))
    ix_dir = tempfile.mkdtemp(prefix="pke_batch_bench_")
    out: dict = {"metric": "querystring_batch_vs_perquery",
                 "sf": sf, "n_docs": n_docs, "n_queries": n,
                 "cpus": cpus}
    try:
        build_index(docs, ix_dir, n_parts=8, n_salts=8,
                    dense_doc_ids=True)
        build_positions(docs, ix_dir, n_salts=8)
        ix = IndexReader(spark, ix_dir)
        qset = query_set(n)

        t0 = time.time()
        rows = SV.querystring_topk_batch(ix, qset, 10).count()
        dt = time.time() - t0
        out["batch_sec"] = round(dt, 2)
        out["batch_qps"] = round(n / dt, 1)
        out["batch_rows"] = int(rows)

        old = SV.BATCH_DRIVER_MAX_ROWS
        SV.BATCH_DRIVER_MAX_ROWS = 0
        try:
            t0 = time.time()
            rows_d = SV.querystring_topk_batch(ix, qset, 10).count()
            dt = time.time() - t0
            out["distributed_sec"] = round(dt, 2)
            out["distributed_qps"] = round(n / dt, 1)
            assert int(rows_d) == int(rows), "path row mismatch"
        finally:
            SV.BATCH_DRIVER_MAX_ROWS = old

        n_seq = min(40, n)
        t0 = time.time()
        for q in list(qset.values())[:n_seq]:
            SV.querystring_search_indexed(ix, q, 10)
        dt = time.time() - t0
        out[f"perquery_{n_seq}_sec"] = round(dt, 2)
        # WARM figure: the batch + forced-distributed passes above have
        # already filled the postings/doc-set LRUs (ADVICE r5) — the
        # key says so, not just the protocol note
        out["perquery_qps_warm"] = round(n_seq / dt, 1)
    finally:
        shutil.rmtree(ix_dir, ignore_errors=True)
    json.dump(out, open(f"{ROOT}/benchmarks/batch_querystring.json",
                        "w"), indent=2)
    print(json.dumps(out), flush=True)
    spark.stop()
    os._exit(0)


if __name__ == "__main__":
    main()
