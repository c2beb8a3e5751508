"""Phase-level timing breakdown of the index build (membw evidence).

Times phase A (segments: tokenize + per-doc counts + partitioned write)
separately from phase B (stats + salted encode + postings write) on the
synthetic corpus, pinned to a core budget, tmpfs I/O — the breakdown
VERDICT r2 asks for ("membw-bound share halved" as the done criterion).

Usage: python scripts/phase_timing.py [n_docs] [cpus] [label]
Writes/updates benchmarks/phase_timing.json (list of runs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import os, shutil, sys, tempfile, time
sys.path.insert(0, os.getcwd())  # run with cwd = the checkout
from pke_spark.corpus import synth_corpus, with_doc_ids
from pke_spark.index import build as B
from pke_spark.session import get_spark
from pyspark.sql import functions as F

cpus, n_docs = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark(f"phase_{cpus}", cpus=cpus, shuffle_partitions=64,
                  extra_conf={"spark.local.dir": "/dev/shm/spark_phase"})
spark.sparkContext.setLogLevel("ERROR")
corpus = with_doc_ids(synth_corpus(spark, n_docs, partitions=64))
docs = corpus.select("doc_id", corpus.content.alias("text"))
docs.limit(100).count()  # warm
ix_dir = tempfile.mkdtemp(prefix=f"pke_phase_{cpus}_", dir="/dev/shm")

# materialize the corpus once so phase A doesn't pay generation cost
# (generation is synthetic-only; a real build reads parquet/Iceberg)
src = f"{ix_dir}/src"
t0 = time.time()
docs.write.parquet(src)
t_gen = time.time() - t0
docs = spark.read.parquet(src)

prepared = (docs.select("doc_id", "text")
            .withColumn("part", F.pmod(F.xxhash64("doc_id"),
                                       F.lit(32)).cast("int")))
t0 = time.time()
B._write_segments(prepared, ix_dir, 32, {"partitionOverwriteMode": "dynamic"})
t_a = time.time() - t0
t0 = time.time()
B.encode_postings(spark, ix_dir, n_salts=8, driver_stats_max_bytes=0)
t_b = time.time() - t0
print("PHASES", t_gen, t_a, t_b)
shutil.rmtree(ix_dir, ignore_errors=True)
spark.stop()
os._exit(0)
"""


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    label = sys.argv[3] if len(sys.argv) > 3 else "baseline"
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", CHILD,
         str(cpus), str(n_docs)], cwd=ROOT, capture_output=True, text=True,
        timeout=2400)
    for line in out.stdout.splitlines():
        if "PHASES" in line:
            parts = line.split("PHASES")[1].split()
            t_gen, t_a, t_b = (float(x) for x in parts[:3])
            rec = {"label": label, "n_docs": n_docs, "cpus": cpus,
                   "gen_write_sec": round(t_gen, 2),
                   "phaseA_segments_sec": round(t_a, 2),
                   "phaseB_encode_sec": round(t_b, 2),
                   "build_sec": round(t_a + t_b, 2)}
            path = f"{ROOT}/benchmarks/phase_timing.json"
            hist = []
            if os.path.exists(path):
                hist = json.load(open(path))
            hist.append(rec)
            json.dump(hist, open(path, "w"), indent=2)
            print(json.dumps(rec))
            return
    print("FAILED:\n", out.stdout[-2000:], out.stderr[-3000:])
    sys.exit(1)


if __name__ == "__main__":
    main()
