"""Posting codec layer record: encode and decode of 2M postings, one
term per call against one segmented call for all terms.

The postings are synthetic and seeded: Zipf-distributed term dfs (capped
at ``MAX_DF``) over dense doc ordinals (the layout a dense build
encodes), geometric tfs and uniform doc lengths. The input is fixed
(the constants below, also written into the record's ``input``), so
every ``codec_*.json`` measures the same thing. Each form is timed
``REPEAT`` times and the median is kept:

- ``per_term``: ``codec.encode_blocks`` and ``codec.decode_blocks`` once
  per term (the shape of every write path before the segmented kernels,
  and of the serving decode today);
- ``segmented``: one ``codec.encode_runs`` and one ``codec.decode_runs``
  over all terms (the build, compact, purge and positional merges).

Both forms must decode to the input; the script exits non-zero if not.
Usage (from any directory; it imports the checkout it sits in):

    python scripts/codec_bench.py --tag <tag>

writes ``benchmarks/codec_<tag>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from pke_spark.index import codec  # noqa: E402

POSTINGS = 2_000_000
DOCS = 200_000
MAX_DF = 8_000
SEED = 3
REPEAT = 3


def synth_postings(n_postings: int, n_docs: int, max_df: int, seed: int):
    """-> (run lengths, doc, tf, dl): runs doc-ascending, concatenated."""
    rng = np.random.default_rng(seed)
    lens = []
    total = 0
    while total < n_postings:
        n = int(min(rng.zipf(1.5), max_df, n_postings - total))
        lens.append(n)
        total += n
    lens = np.array(lens, dtype=np.int64)
    doc = np.concatenate([np.sort(rng.choice(n_docs, n, replace=False))
                          for n in lens]).astype(np.int64)
    tf = rng.geometric(0.45, total).astype(np.int64)
    dl = rng.integers(20, 3000, total).astype(np.int64)
    return lens, doc, tf, dl


def _median_s(fn, repeat: int):
    times, out = [], None
    for _ in range(repeat):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tag", required=True)
    args = ap.parse_args()

    lens, doc, tf, dl = synth_postings(POSTINGS, DOCS, MAX_DF, SEED)
    cuts = np.cumsum(lens)[:-1]
    terms = list(zip(np.split(doc, cuts), np.split(tf, cuts),
                     np.split(dl, cuts)))

    enc_term_s, per_term = _median_s(
        lambda: [codec.encode_blocks(d, t, l) for d, t, l in terms],
        REPEAT)
    enc_seg_s, col = _median_s(lambda: codec.encode_runs(lens, doc, tf, dl),
                               REPEAT)
    dec_term_s, dec_term = _median_s(
        lambda: [codec.decode_blocks(b) for b in per_term], REPEAT)
    dec_seg_s, dec_seg = _median_s(lambda: codec.decode_runs(col), REPEAT)

    ok = (all(np.array_equal(a, b) for a, b in zip(dec_seg[1:],
                                                   (doc, tf, dl)))
          and all(np.array_equal(got[i], want[i])
                  for got, want in zip(dec_term, terms) for i in range(3)))
    stream_bytes = sum(len(b[f]) for blocks in per_term for b in blocks
                       for f in ("docs", "tfs", "dls"))
    seg_bytes = sum(len(b[f]) for blocks in col.to_pylist() for b in blocks
                    for f in ("docs", "tfs", "dls"))
    rec = {
        "tag": args.tag,
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version(),
                 "numpy": np.__version__},
        "input": {"postings": int(lens.sum()), "terms": len(lens),
                  "blocks": sum(len(b) for b in per_term),
                  "docs": DOCS, "max_df": MAX_DF, "seed": SEED,
                  "repeat": REPEAT},
        "per_term": {"encode_s": round(enc_term_s, 3),
                     "decode_s": round(dec_term_s, 3)},
        "segmented": {"encode_s": round(enc_seg_s, 3),
                      "decode_s": round(dec_seg_s, 3)},
        "stream_bytes": {"per_term": stream_bytes, "segmented": seg_bytes},
        "roundtrip_ok": bool(ok and stream_bytes == seg_bytes),
    }
    out = os.path.join(ROOT, "benchmarks", f"codec_{args.tag}.json")
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    print(json.dumps(rec))
    return 0 if rec["roundtrip_ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
