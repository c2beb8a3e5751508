"""The traced benchmark run (``perfbench/workloads.py``) wraps library
names by lookup — ``serving._BatchScorer``, ``serving._bucketed_batch_topk``,
``serving.term_positions``, the ``serving.expand_*_indexed`` functions,
``codec.decode_blocks`` and three ``IndexReader`` methods. A renamed or
deleted name must fail this suite, not the benchmark; and the batch
routes must still reach those names, so the span tree keeps telling the
driver route from the distributed one."""

from __future__ import annotations

from perfbench import trace, workloads
from pke_spark.index import build, codec, serving


def _bindings():
    return {(owner, attr): getattr(owner, attr)
            for owner, attr in [
                (serving, "_BatchScorer"), (serving, "_bucketed_batch_topk"),
                (serving, "term_positions"), (serving, "expand_prefix_indexed"),
                (serving, "expand_fuzzy_indexed"),
                (serving, "expand_wildcard_indexed"),
                (serving, "expand_regex_indexed"), (codec, "decode_blocks"),
                (build.IndexReader, "term_dfs"),
                (build.IndexReader, "decoded_postings"),
                (build.IndexReader, "docset_cache")]}


def test_traced_run_wrappers_install_and_restore():
    before = _bindings()
    tr = trace.Tracer()
    workloads.install_wrappers(tr)
    try:
        assert all(getattr(o, a) is not f for (o, a), f in before.items())
    finally:
        tr.restore()
    assert _bindings() == before
    assert isinstance(serving.BATCH_DRIVER_MAX_WORK, int)


def test_batch_routes_reach_the_wrapped_names(spark, tmp_path, monkeypatch):
    """The driver route constructs ``serving._BatchScorer`` through the
    module global; the distributed route enters
    ``serving._bucketed_batch_topk`` and builds no driver scorer (its
    bucket tasks import their own)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta{i % 3} gamma{i % 4}") for i in range(60)],
        "doc_id long, text string")
    d = str(tmp_path / "ix")
    build.build_index(docs, d, n_parts=2, n_salts=2)
    ix = build.IndexReader(spark, d)
    queries = {"a": "alpha beta1", "b": "+gamma2 alpha -beta0"}

    def route_spans(work_budget):
        tr = trace.Tracer()
        workloads.install_wrappers(tr)
        monkeypatch.setattr(serving, "BATCH_DRIVER_MAX_WORK", work_budget)
        try:
            with tr.span("batch"):
                rows = serving.querystring_topk_batch(ix, queries, 5).collect()
        finally:
            tr.restore()
        assert rows
        return {s.name for s in tr.spans if s.parent == 0}

    driver = route_spans(serving.BATCH_DRIVER_MAX_WORK)
    assert "serving.batch_driver_route" in driver
    assert "serving.batch_bucketed_route" not in driver
    dist = route_spans(0)
    assert "serving.batch_bucketed_route" in dist
    assert "serving.batch_driver_route" not in dist
