"""Self-tests of the benchmark's own parts.

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py

The guard test starts two Spark sessions (about 40 s); the rest need no
Spark.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.gen import CodeCorpus, DocTable, QueryStream  # noqa: E402
from perfbench.trace import Span, percentile, self_times, tail  # noqa: E402
from perfbench.workloads import Ledger, same_topk  # noqa: E402

FIXTURE = os.path.join(ROOT, "perfbench", "fixtures", "eventlog_small.jsonl")


def _inputs(seed: int) -> bytes:
    c = CodeCorpus(seed)
    rows, df = c.files(np.arange(2000))
    q = QueryStream(seed, c.vocab, df, 2000)
    stream = [q.terms(), q.rare(), q.boolean(), q.prefix(), q.fuzzy()]
    docs = DocTable(seed).rows(0, 50)
    return (rows.to_csv().encode() + df.tobytes() + repr(stream).encode()
            + docs.to_csv().encode())


def test_generator_deterministic():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        percentile(list(range(999)), 99)  # 9.99 samples beyond p99
    assert percentile(list(range(1, 1001)), 99) == 990
    assert tail(list(range(1000))) == (99.0, 989)
    assert tail(list(range(100)))[0] == 90.0
    assert tail(list(range(20)))[0] == 50.0


def test_self_time_overlapping_children():
    spans = [Span(0, "p", 0.0, 10.0, None, 1),
             Span(1, "a", 1.0, 4.0, 0, 1),
             Span(2, "b", 3.0, 6.0, 0, 1),    # overlaps a
             Span(3, "c", 8.0, 12.0, 0, 1),   # sticks out of p
             Span(4, "d", 3.5, 5.0, 2, 1)]    # grandchild
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[2] == pytest.approx(3 - 1.5)
    assert st[4] == pytest.approx(1.5)


def test_eventlog_fixture():
    with open(FIXTURE) as f:
        got = eventlog.summarize(f, ("build", "query", "fold"))
    assert got["build"] == {
        "jobs": 1, "stages": 2, "tasks": 3,
        "executor_run_s": pytest.approx(4.0),
        "executor_cpu_s": pytest.approx(2.75),
        "jvm_gc_s": pytest.approx(0.15),
        "shuffle_write_bytes": 1000,
        "shuffle_fetch_wait_s": pytest.approx(0.25),
        "spill_bytes": 2048, "failed_tasks": 1}
    assert got["query"]["tasks"] == 1
    assert got["query"]["executor_run_s"] == pytest.approx(0.04)
    assert all(v == 0 for v in got["fold"].values())
    assert "check" not in got  # groups outside the phases are ignored


def test_wrong_answer_raises_fail_ratio():
    want = [(1, 11, 2.5), (2, 12, 1.25), (3, 13, 1.25)]
    led = Ledger()
    led.ok(same_topk(list(want), want), "right answer")
    # ties may be cut differently at the k-th place only
    led.ok(same_topk([(1, 11, 2.5), (2, 13, 1.25), (3, 12, 1.25)], want),
           "tie order")
    assert led.ok_ratio == 1.0
    wrong = [(1, 12, 2.5)] + want[1:]
    led.ok(same_topk(wrong, want), "injected wrong answer")
    assert led.failed == 1 and led.ok_ratio < 1.0
    assert led.call("raises", lambda: 1 / 0) is None
    assert led.failed == 2 and led.attempted == 4


def _copy_tree(dst: str) -> None:
    for d in ("pke_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), os.path.join(dst, d),
                        ignore=shutil.ignore_patterns("__pycache__"))


_PROBE = r"""
import sys
tree, path_first = sys.argv[1], sys.argv[2]
sys.path.insert(0, path_first)
from perfbench.guard import WrongTree, check_driver, check_workers
try:
    check_driver(tree)
    print("driver ok")
except WrongTree:
    print("driver refused")
if len(sys.argv) > 3:
    from pke_spark.session import get_spark
    spark = get_spark("guard-selftest", cpus=1)
    try:
        check_workers(spark, tree)
        print("workers ok")
    except WrongTree:
        print("workers refused")
    finally:
        spark.stop()
"""


def _probe(tree: str, path_first: str, workers: bool = False) -> str:
    env = dict(os.environ, PYTHONPATH=path_first)
    args = [sys.executable, "-c", _PROBE, tree, path_first]
    if workers:
        args.append("workers")
    # Python workers put their working directory first on sys.path, so
    # the probe runs outside both trees and PYTHONPATH decides
    out = subprocess.run(args, cwd=os.path.dirname(tree), env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_guard_copy_passes_and_original_path_fails():
    """A copy of the tree passes the guard; pointing sys.path and the
    workers' PYTHONPATH back at the original tree (what a hard-coded
    ``sys.path.insert`` does) fails it, on the driver and in a worker."""
    tmp = tempfile.mkdtemp(prefix=".perfbench_run_selftest_", dir=ROOT)
    try:
        copy = os.path.join(tmp, "tree")
        _copy_tree(copy)
        out = _probe(copy, copy, workers=True)
        assert "driver ok" in out and "workers ok" in out, out
        out = _probe(copy, ROOT, workers=True)
        assert "driver refused" in out and "workers refused" in out, out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
