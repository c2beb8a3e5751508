"""Per-document ranking executor: tokenize inside the map pass.

A document's token sequence is derivable from its own row, so the
Python pass that ranks also tokenizes (``tokenize_series``, the pandas
member of the lockstep tokenizer quartet) and builds ONE output frame
per Arrow batch: no token-row shuffle, no per-group frames (guide §2.3
ship the text once, §4 amortize the Python boundary over batches).

A call runs ONE wave of Python tasks, one per task slot
(``defaultParallelism``), and no doc exchange it does not need. A
Python task's cost is mostly fixed: on a 4-core host a task over a
200-doc batch ran 200-350 ms while its UDF body took about 2 ms (the
first UDF call comes about 225 ms after launch, then the daemon's
``gc.collect()`` after each reused-worker task takes 45-50 ms). So an
input with at least as many splits as slots is used as it is; one
with fewer (a sub-4MB parquet file is ONE split under the openCost
rule) is hash-repartitioned by doc_id to exactly the slot count.
``spark.sql.shuffle.partitions`` is the wrong count (at 8 on 4 slots
every call paid an exchange and two task waves), and so is AQE's
byte-based coalescing: the cost is per document, not per byte
(yake_full: 9.3 s coalesced to one partition, 1.5 s pinned). Both
counts are properties of the input and the session: there is no knob.

``row_fn(doc_id, terms) -> list[tuple]`` receives the document's term
sequence (positions are implicitly the dense 1-based token order, the
same values ``tokens_exploded`` emits) and returns finished output
rows. Documents whose ``row_fn`` yields no rows simply contribute
nothing, matching the old groupBy semantics for token-less docs.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession

_DTYPES = {"long": "int64", "int": "int32",
           "double": "float64", "string": "object",
           "array<long>": "object"}


def round6_half_up(x: float) -> float:
    """Spark's ``F.round(x, 6)`` for passes that rank on a rounded
    weight: Spark takes the digits of ``Double.toString`` and rounds
    HALF_UP. ``repr`` gives the shortest round-trip digits, as
    ``Double.toString`` does from JDK 19; older JVMs can emit extra
    digits and round a boundary value differently, so
    ``tests/test_yake_lite.py`` pins it per input on its JVM."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def jvm_log2(spark: SparkSession):
    """Spark's ``F.log2`` on the driver, one py4j call per value:
    ``Log2`` is ``StrictMath.log(x) / StrictMath.log(2)``, and CPython's
    ``math.log`` (the C library's) differs from StrictMath in the last
    bit for about 2% of inputs (7910 of 380k measured with glibc),
    enough to move a 6-decimal rounding boundary."""
    log = spark.sparkContext._jvm.java.lang.StrictMath.log
    ln2 = log(2.0)
    return lambda x: log(x) / ln2


def spread_docs(docs: DataFrame, cols=("doc_id", "text")) -> DataFrame:
    """The doc rows as they are when the input already has a split per
    task slot, else hash-repartitioned by doc_id to exactly the slot
    count (see module docstring)."""
    # the route's data: the input's splits against the session's slots
    splits = docs.rdd.getNumPartitions()
    slots = docs.sparkSession.sparkContext.defaultParallelism
    out = docs.select(*cols)
    return out if splits >= slots else out.repartition(slots, "doc_id")


def per_doc_rows(docs: DataFrame, row_fn, schema: str,
                 profile: str | None = "code",
                 extra_cols: tuple = ()) -> DataFrame:
    """``extra_cols``: additional per-doc input columns forwarded to
    ``row_fn(doc_id, terms, *extras)`` (e.g. TPR's per-doc topic
    distribution). ``profile=None`` passes the raw text instead of its
    terms (yake_full splits its own sentences)."""
    import pandas as pd

    from ..tokenizer import tokenize_series

    fields = [f.strip().split() for f in schema.split(",")]
    names = [n for n, _t in fields]
    dtypes = {n: _DTYPES[t] for n, t in fields}

    def gen(pdf_iter):
        for pdf in pdf_iter:
            toks = (tokenize_series(pdf["text"], profile) if profile
                    else pdf["text"])
            rows: list[tuple] = []
            for did, tl, *extras in zip(pdf["doc_id"], toks,
                                        *[pdf[c] for c in extra_cols]):
                rows.extend(row_fn(int(did), tl, *extras))
            if rows:
                yield pd.DataFrame(rows, columns=names).astype(dtypes)
            else:
                yield pd.DataFrame({n: pd.Series(dtype=dtypes[n])
                                    for n in names})

    return spread_docs(docs, ("doc_id", "text", *extra_cols)) \
        .mapInPandas(gen, schema)
