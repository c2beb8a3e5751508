"""Tree-under-test guard.

A benchmark that imports the engine from some other checkout measures
that checkout, not this one. The guard asserts that ``pke_spark`` comes
from the benchmark's own tree, on the driver and inside a Python
worker. It never imports ``__spark_entry__``, which prepends a fixed
path to ``sys.path``.
"""

from __future__ import annotations

import os


class WrongTree(RuntimeError):
    pass


def _inside(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return os.path.commonpath([path, root]) == root


def check_driver(root: str) -> str:
    import pke_spark
    if not _inside(pke_spark.__file__, root):
        raise WrongTree(f"driver imports pke_spark from {pke_spark.__file__}"
                        f", outside the tree under test {root}")
    return pke_spark.__file__


def _worker_pke_file(_):
    import pke_spark
    return pke_spark.__file__


def check_workers(spark, root: str) -> str:
    """One-task probe: the worker's pke_spark must be the tree's too."""
    got = spark.sparkContext.parallelize([0], 1).map(_worker_pke_file) \
        .collect()[0]
    if not _inside(got, root):
        raise WrongTree(f"Python worker imports pke_spark from {got}, "
                        f"outside the tree under test {root}")
    return got
