"""Scaling-efficiency evidence (north rule: >= 0.8 between N and 4N).

Runs the IDENTICAL index build (same input, same code, same n_parts
layout) at local[N_LOW] and local[N_HIGH] (defaults 2 and 8; override
with SCALE_N_LOW / SCALE_N_HIGH), each in a FRESH subprocess (own JVM),
reports docs/sec at both plus
  eff = (T_low / T_high) / (N_HIGH / N_LOW)   (ideal linear -> 1.0)
and writes benchmarks/scaling.json (embedded by bench.py) — the sandbox
proxy for an N- vs 4N-executor cluster run.

Methodology (what it takes to measure the JOB rather than the host):
1. taskset pinning: each configuration is pinned to exactly its core
   budget. A bare local[N] on this 32-core box is NOT an N-core
   executor — its JVM borrows idle host cores for GC/JIT/netty/python
   workers, inflating the small configuration (measured: local[2] went
   116 s unpinned -> 133 s pinned on the same input).
2. tmpfs I/O: index output and spark.local.dir go to /dev/shm. The box
   has ONE shared disk whose bandwidth is identical at every thread
   count — a host artifact; a real N vs 4N cluster scales disks with N.
3. Noise control: this host shows heavy intermittent CPU steal from
   co-tenants, so configurations are interleaved (ABAB...) ``repeat``
   times, the MINIMUM is taken per config, and per-run steal%% is
   recorded so a polluted measurement is visible in the artifact.
4. One job layout for BOTH sizes: shuffle partitions are fixed at 64
   (= input partitions; 2 tasks/core at the large config) rather than
   scaled with cpus. A real N -> 4N scale-out test configures the job
   once — for the data volume and the larger cluster — and runs it at
   both sizes; tying the shuffle layout to the core count would make
   the two runs execute *different* physical plans (and starve the
   large config of straggler slack: 8 encode tasks on 8 cores means
   any skew lands directly on the critical path).

Usage: python scripts/scaling.py [n_docs] [repeat]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]  # total, steal


N_LOW = int(os.environ.get("SCALE_N_LOW", "2"))
N_HIGH = int(os.environ.get("SCALE_N_HIGH", "8"))

CHILD = r"""
import os, shutil, sys, tempfile, time
sys.path.insert(0, os.getcwd())  # run with cwd = the checkout
from pke_spark.corpus import synth_corpus, with_doc_ids
from pke_spark.index.build import build_index
from pke_spark.session import get_spark

cpus, n_docs = int(sys.argv[1]), int(sys.argv[2])
# index output AND shuffle spill on tmpfs (/dev/shm): this box has ONE
# shared disk, so parquet/shuffle writes serialize identically at every
# thread count — a host artifact (a real N- vs 4N-executor cluster has
# per-node disks whose aggregate bandwidth scales with N). tmpfs makes
# the comparison measure the JOB's scalability, which is what the north
# rule's two-cluster-size criterion is about.
# shuffle layout fixed at 64 for BOTH sizes (see module docstring #4)
spark = get_spark(f"scaling_{cpus}", cpus=cpus, shuffle_partitions=64,
                  extra_conf={"spark.local.dir": "/dev/shm/spark_scale"})
spark.sparkContext.setLogLevel("ERROR")
# partitions fixed at 64 for BOTH cluster sizes: identical input layout
corpus = with_doc_ids(synth_corpus(spark, n_docs, partitions=64))
docs = corpus.select("doc_id", corpus.content.alias("text"))
docs.limit(100).count()  # warm JVM + python workers
ix_dir = tempfile.mkdtemp(prefix=f"pke_spark_scale_{cpus}_",
                          dir="/dev/shm")
t0 = time.time()
# n_parts fixed at 32 for BOTH cluster sizes: identical data layout and
# job, only the parallelism differs (the N vs 4N comparison).
# driver_stats_max_bytes=0 forces the distributed stats path — the one a
# 10^12-file corpus always takes (the DuckDB shortcut is a small-corpus
# convenience and would serialize on the driver here).
# SCALE_DIRECT=1 measures build_index_direct (the single-pass ephemeral
# mode, no segment checkpoint) instead of the default checkpointable
# build — both modes are reported in benchmarks/.
import os as _os
if _os.environ.get("SCALE_DIRECT") == "1":
    from pke_spark.index.build import build_index_direct
    build_index_direct(docs, ix_dir, n_docs=n_docs, n_salts=8)
elif _os.environ.get("SCALE_POSITIONS") == "1":
    # positional sidecar build (round 4): same single-pass + one
    # compressed-fragment shuffle shape as the direct build, but the
    # payload includes every token position
    from pke_spark.index.positions import build_positions
    build_positions(docs, ix_dir, n_salts=8)
elif _os.environ.get("SCALE_TEED") == "1":
    # teed checkpointed mode: segments written as a side effect of the
    # single fused encode pass (VERDICT r3 item 3)
    from pke_spark.index.build import build_index_teed
    build_index_teed(docs, ix_dir, n_docs=n_docs, n_parts=32, n_salts=8)
else:
    build_index(docs, ix_dir, n_parts=32, n_salts=8, driver_stats_max_bytes=0)
print("ELAPSED", time.time() - t0)
shutil.rmtree(ix_dir, ignore_errors=True)
spark.stop()
"""


def run_build(cpus: int, n_docs: int) -> tuple[float, float]:
    tot0, st0 = _cpu_times()
    # taskset: pin each configuration to EXACTLY its core budget. A bare
    # local[N] on a 32-core host is not an N-core executor — its JVM
    # borrows idle host cores for GC/JIT/netty/python workers, which
    # inflates the small configuration and deflates measured efficiency.
    # On a real cluster an N-core executor pays for those threads out of
    # its own N cores; the pin reproduces that budget.
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}",
         sys.executable, "-c", CHILD, str(cpus), str(n_docs)],
        cwd=ROOT, capture_output=True, text=True, timeout=2400)
    tot1, st1 = _cpu_times()
    steal_pct = 100.0 * (st1 - st0) / max(tot1 - tot0, 1)
    for line in out.stdout.splitlines():
        if "ELAPSED" in line:  # progress-bar fragments may share the line
            return float(line.split("ELAPSED")[1].split()[0]), steal_pct
    raise RuntimeError(f"child failed (cpus={cpus}):\n{out.stderr[-2000:]}")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    repeat = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    # interleave configurations (ABAB...) so slow phases of the noisy
    # host hit both configs equally; take per-config MIN
    lo, hi = [], []
    for _ in range(repeat):
        lo.append(run_build(N_LOW, n_docs))
        hi.append(run_build(N_HIGH, n_docs))
    t_lo = min(t for t, _ in lo)
    t_hi = min(t for t, _ in hi)
    eff = (t_lo / t_hi) / (N_HIGH / N_LOW)
    out = {
        "mode": ("direct (single-pass, no segment checkpoint)"
                 if os.environ.get("SCALE_DIRECT") == "1"
                 else "teed (single-pass, segments teed as side effect)"
                 if os.environ.get("SCALE_TEED") == "1"
                 else "positions sidecar (single-pass, position payload)"
                 if os.environ.get("SCALE_POSITIONS") == "1"
                 else "default (segment-checkpointed one-shot)"),
        "n_docs": n_docs,
        "n_low": N_LOW,
        "n_high": N_HIGH,
        f"local{N_LOW}_sec": round(t_lo, 2),
        f"local{N_LOW}_docs_per_sec": round(n_docs / t_lo, 1),
        f"local{N_HIGH}_sec": round(t_hi, 2),
        f"local{N_HIGH}_docs_per_sec": round(n_docs / t_hi, 1),
        "speedup": round(t_lo / t_hi, 3),
        "scaling_efficiency": round(eff, 3),
        "runs": [{"cpus": N_LOW, "sec": round(t, 2), "steal_pct": round(s, 1)}
                 for t, s in lo]
                + [{"cpus": N_HIGH, "sec": round(t, 2), "steal_pct": round(s, 1)}
                   for t, s in hi],
    }
    os.makedirs(f"{ROOT}/benchmarks", exist_ok=True)
    fname = ("scaling_direct.json" if os.environ.get("SCALE_DIRECT") == "1"
             else "scaling_teed.json" if os.environ.get("SCALE_TEED") == "1"
             else "scaling_positions.json"
             if os.environ.get("SCALE_POSITIONS") == "1"
             else "scaling.json")
    with open(f"{ROOT}/benchmarks/{fname}", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
