"""The per-doc executor's route and the per-doc KPMiner scorer.

- Route (ops/perdoc.spread_docs): an input with a split per task slot
  runs the Python pass with no doc exchange; a single-split input gets
  exactly one hash repartition by doc_id to the slot count, whatever
  ``spark.sql.shuffle.partitions`` says.
- firstphrases and kpminer equal their DuckDB twins on both routes.
- The per-doc KPMiner weight (its idf from ``jvm_log2``) equals
  Spark's Column expression bit for bit, so ranks tie-break exactly as
  the JVM plan's window did.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pke_spark.ops import graph, keyphrase
from pke_spark.ops.perdoc import jvm_log2

HASH_DOC_ID = re.compile(r"hashpartitioning\(doc_id#\d+L?, (\d+)\)")
PER_DOC = {"textrank_topk": graph.textrank_topk,
           "kpminer_dedup": keyphrase.kpminer_dedup}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def parquet_path(sf_dir):
    return f"{sf_dir}/documents.parquet"


@pytest.fixture(scope="module")
def routes(spark, parquet_path):
    """The same doc rows as a single-split parquet scan and as a
    createDataFrame input with a split per task slot."""
    single = spark.read.parquet(parquet_path).select("doc_id", "text")
    pdf = pd.read_parquet(parquet_path, columns=["doc_id", "text"])
    spread = spark.createDataFrame(pdf)
    slots = spark.sparkContext.defaultParallelism
    assert single.rdd.getNumPartitions() == 1
    assert spread.rdd.getNumPartitions() >= slots
    return {"single_split": single, "spread": spread}


@pytest.mark.parametrize("name", sorted(PER_DOC))
def test_spread_input_has_no_doc_exchange(routes, name):
    plan = _plan(PER_DOC[name](routes["spread"], 5))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("name", sorted(PER_DOC))
def test_single_split_input_repartitions_to_task_slots(spark, routes, name):
    slots = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(2 * slots))
    try:
        plan = _plan(PER_DOC[name](routes["single_split"], 5))
    finally:
        spark.conf.set(key, before)
    assert HASH_DOC_ID.findall(plan) == [str(slots)], plan


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("route", ["single_split", "spread"])
@pytest.mark.parametrize("name,twin", [
    ("firstphrases", keyphrase.firstphrases_sql(5)),
    ("kpminer", keyphrase.kpminer_sql(5))])
def test_parity_with_twin_on_both_routes(routes, parquet_path, route,
                                         name, twin):
    got = getattr(keyphrase, name)(routes[route], 5).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{parquet_path}')")
    want = con.execute(twin).fetchdf()
    con.close()
    assert len(got) > 0
    pd.testing.assert_frame_equal(_norm(got), _norm(want))


def _kp_inputs() -> list[tuple]:
    """Seeded (tf, n_words, df, n, n_d, p_d) over the operator's range,
    plus the 100 of a larger draw whose raw weight sits nearest a
    6-decimal half-way point."""
    rng = np.random.default_rng(20261017)
    m = 200_000
    n = rng.integers(1, 5000, m)
    df = (rng.random(m) * (n + 1)).astype(np.int64)
    tf = rng.integers(2, 60, m)
    n_d = tf + rng.integers(0, 3000, m)
    p_d = 1 + (rng.random(m) * n_d).astype(np.int64)
    nw = rng.integers(1, 4, m)
    n1 = n + 1.0
    raw = np.where(nw == 1, tf * np.log2(n1 / (1.0 + df)),
                   tf * np.minimum(n_d / (p_d * keyphrase.KP_ALPHA),
                                   keyphrase.KP_SIGMA) * np.log2(n1))
    off_half = np.abs((raw * 1e6) % 1.0 - 0.5)
    pick = list(range(3000)) + list(np.argsort(off_half)[:100])
    return [(int(tf[i]), int(nw[i]), int(df[i]), float(n[i]), int(n_d[i]),
             int(p_d[i])) for i in pick]


def test_kp_weight_matches_spark_column(spark):
    rows = _kp_inputs()
    sdf = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i int, tf long, n_words long, df long, n double, n_d long, "
        "p_d long")
    # the Column expression the JVM kpminer plan evaluated
    n1 = F.col("n") + 1.0
    one = F.col("n_words") == 1
    idf = F.when(one, F.log2(n1 / (1.0 + F.col("df")))).otherwise(F.log2(n1))
    boost = F.least(F.col("n_d") / (F.col("p_d") * keyphrase.KP_ALPHA),
                    F.lit(keyphrase.KP_SIGMA))
    weight = F.round(F.when(one, F.col("tf") * idf)
                     .otherwise(F.col("tf") * boost * idf), 6)
    got = {r.i: (r.idf, r.weight) for r in
           sdf.select("i", idf.alias("idf"), weight.alias("weight"))
           .collect()}
    assert len(got) == len(rows)
    log2 = jvm_log2(spark)
    for i, (tf, nw, df, n, n_d, p_d) in enumerate(rows):
        py_idf = log2((n + 1.0) / (1.0 + df)) if nw == 1 else log2(n + 1.0)
        assert got[i][0] == py_idf, (rows[i], got[i][0], py_idf)
        w = keyphrase.kp_weight(tf, nw, py_idf, n_d, p_d)
        assert got[i][1] == w, (rows[i], got[i][1], w)
