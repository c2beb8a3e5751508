"""Freeze golden outputs for the rows-only queries() entries.

The 12 entries with no DuckDB-derivable oracle (iterative PageRank
family, greedy dedup, ML fits) are each independently verified in
pytest (networkx parity, reference-transcription mirrors, numpy-NB
mirrors, brute-force recall) — but that evidence is invisible to the
driver's CORRECTNESS gate, which only sees `err: no_oracle`.

This script freezes each entry's sf0.01 result (normalized exactly the
way the gate normalizes: columns sorted by name, ints->int64,
floats->round(6), rest->str, rows sorted) into tests/golden/<name>.json.
pke_spark/golden.py then serves VALUES-literal DuckDB SQL built from
those files, turning every frozen entry into a full rows+schema+hash
check in the driver gate. The goldens are *frozen verified outputs*,
not independent derivations — the independent derivations remain the
pytest mirrors; the golden closes the machine-checkable loop.

Determinism gate: `--mode dump` is run in TWO subprocesses at
different parallelism (local[8]/shuffle=8 vs local[32]/shuffle=32);
`--mode freeze` diffs the two dumps and only freezes entries that are
bit-identical across parallelism levels (a golden that depends on
partitioning would break under the driver's own config).

Usage:
    python scripts/freeze_goldens.py            # orchestrates both dumps + freeze
    python scripts/freeze_goldens.py --mode dump --cpus 8 --out /tmp/g8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ROWS_ONLY = [
    "textrank", "textrank_toppct", "singlerank", "positionrank",
    "kpminer_dedup", "topicrank", "multipartiterank", "topical_pagerank",
    "ann_lsh_topk", "ann_ivf_topk", "yake_full", "kea_predict",
    "wingnus_predict",
]
SF_DIR = os.environ.get("FREEZE_SF_DIR", "/root/testdata/sf0.01")
GOLDEN_DIR = os.environ.get("FREEZE_GOLDEN_DIR",
                            os.path.join(ROOT, "tests", "golden"))


def normalize(df):
    """Mirror scripts/check_oracle.py normalize()."""
    import pandas as pd
    df = df[sorted(df.columns)]
    out = {}
    dtypes = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
            dtypes[c] = "float"
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
            dtypes[c] = "int"
        else:
            out[c] = s.astype(str)
            dtypes[c] = "str"
    df = pd.DataFrame(out)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df, dtypes


def dump(cpus: int, out_dir: str) -> None:
    from pke_spark.session import get_spark
    import __spark_entry__ as entry
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"golden_dump_{cpus}", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in ROWS_ONLY:
        pdf = qs[name](spark, SF_DIR).toPandas()
        norm, dtypes = normalize(pdf)
        rec = {
            "query": name,
            "sf_dir": SF_DIR,
            "columns": list(norm.columns),
            "dtypes": dtypes,
            "n_rows": len(norm),
            "rows": json.loads(norm.to_json(orient="values")),
        }
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump(rec, f)
        print(f"  dumped {name:20s} rows={len(norm)}", flush=True)
    spark.stop()


def freeze(dir_a: str, dir_b: str) -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    frozen, unstable = [], []
    for name in ROWS_ONLY:
        a = json.load(open(os.path.join(dir_a, f"{name}.json")))
        b = json.load(open(os.path.join(dir_b, f"{name}.json")))
        if a["rows"] == b["rows"] and a["columns"] == b["columns"]:
            with open(os.path.join(GOLDEN_DIR, f"{name}.json"), "w") as f:
                json.dump(a, f)
            frozen.append(name)
        else:
            # keep a diff summary for diagnosis
            n_diff = sum(1 for x, y in zip(a["rows"], b["rows"]) if x != y)
            n_diff += abs(len(a["rows"]) - len(b["rows"]))
            unstable.append((name, n_diff, len(a["rows"]), len(b["rows"])))
    print("frozen:", frozen)
    print("UNSTABLE (not frozen):", unstable)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["dump", "freeze", "all"], default="all")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--out", default="/tmp/goldens")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()
    if args.only:
        global ROWS_ONLY
        ROWS_ONLY = [q for q in ROWS_ONLY if q in set(args.only)]
    if args.mode == "dump":
        dump(args.cpus, args.out)
    elif args.mode == "freeze":
        freeze("/tmp/goldens8", "/tmp/goldens32")
    else:
        only = (["--only", *args.only] if args.only else [])
        for cpus, out in ((8, "/tmp/goldens8"), (32, "/tmp/goldens32")):
            print(f"== dump at local[{cpus}] ==", flush=True)
            subprocess.run(
                [sys.executable, __file__, "--mode", "dump",
                 "--cpus", str(cpus), "--out", out, *only], check=True)
        freeze("/tmp/goldens8", "/tmp/goldens32")


if __name__ == "__main__":
    main()
