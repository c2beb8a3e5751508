"""Focused tests for the round-6 per-doc yake_lite rewrite.

The operator moved from a token-row aggregation plan (groupBy x2 +
join + window) to one per-doc Python pass (ops/perdoc.py). These pin
the two things the rewrite must preserve: the HALF_UP 6-decimal round
(Spark's F.round semantics, now replicated in Python because ranking
ties break on the ROUNDED weight) and end-to-end equality with the
unchanged DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pke_spark.ops.yake import _round6_half_up, yake_lite, yake_lite_sql

# values chosen to sit at/near 6-decimal rounding boundaries, plus
# generic irrationals of the kind the weight formula produces
ROUND_CASES = [
    0.1234565, 0.12345649999, 0.1234575, 2.5e-7, 3.5e-7, 0.9999995,
    1.0000005, 123.4567895, 0.3333333333333333, 1.0986122886681098,
    0.552722, 7.767123e-1, 1e-7, 9.9e-7, 0.000001, 0.0000015,
]
# seeded random doubles over the weight formula's range, plus values
# one ULP either side of 6-decimal half-way points
_RNG = np.random.default_rng(20240611)
ROUND_CASES += [float(v) for v in _RNG.uniform(0.0, 50.0, 200)]
ROUND_CASES += [float(v) for v in 10.0 ** _RNG.uniform(-8, 3, 100)]
ROUND_CASES += [float(np.nextafter(h, d)) for h in
                (np.round(_RNG.uniform(0.0, 5.0, 50), 6) + 5e-7)
                for d in (0.0, np.inf)]


def test_round6_half_up_matches_spark_round(spark):
    df = spark.createDataFrame(list(enumerate(ROUND_CASES)), "i int, x double")
    got = {r.i: r.y for r in df.select("i", F.round("x", 6).alias("y"))
           .collect()}
    assert len(got) == len(ROUND_CASES)
    for i, v in enumerate(ROUND_CASES):
        assert got[i] == _round6_half_up(v), (i, v, got[i])


def test_yake_lite_matches_duckdb_oracle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sdf = yake_lite(docs, 5).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    odf = con.execute(yake_lite_sql(5)).fetchdf()

    def norm(df):
        df = df[sorted(df.columns)].copy()
        df["weight"] = df["weight"].astype("float64").round(6)
        for c in ("doc_id", "rank", "tf"):
            df[c] = df[c].astype("int64")
        df["term"] = df["term"].astype(str)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    a, b = norm(sdf), norm(odf)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("text,expect_rows", [
    ("", 0),             # token-less doc contributes nothing
    ("one", 1),          # single term: stddev None -> 0.0 path
    ("a b a b a", 2),    # even-tf medians, doc-level stats
])
def test_yake_lite_edge_docs(spark, text, expect_rows):
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = yake_lite(docs, 5).collect()
    assert len(out) == expect_rows
    for r in out:
        assert r.rank >= 1 and r.tf >= 1 and r.weight == round(r.weight, 6)
