"""The two workloads: index (serving and lifecycle) and keyphrase.

Each is a closed loop with one client: the engine has no request
server (callers wait for each answer), and the IndexReader LRUs are not
locked, so one client is the only supported concurrency. Every call
into the engine goes through public functions of ``pke_spark``; the
only private names touched are the two batch-route functions that the
traced run wraps to tell which route a batch took.

All correctness checks run outside the timed windows. Each timed
operation and each check counts as one attempted operation; an
exception or a wrong answer counts as a failed one.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

from . import eventlog
from .gen import CodeCorpus, DocTable, QueryStream
from .trace import NullTracer, Tracer, percentile, self_times, tail

K = 10
# cores this process may run on (what `nproc` prints); get_spark would
# otherwise default to local[32]
NPROC = len(os.sched_getaffinity(0))
PHASES = ("build", "fold", "compact", "batch", "query", "extract")
EXTRACTORS = ("firstphrases", "tfidf_topk", "kpminer_dedup", "textrank",
              "singlerank", "positionrank", "topicrank",
              "multipartiterank", "yake_lite", "yake_full")
# extractors whose oracle_sql() twin is DuckDB SQL; the rest are
# golden-only (frozen sf0.01 outputs under tests/golden)
SQL_TWINS = ("firstphrases", "tfidf_topk", "yake_lite")

# ---- sizes: chosen so that a run ends well inside its time budget on a
# 4-core host (see README.md) ----
INDEX_DOCS = 6_000
TORSO_POOL = 80
# more ops than any host answers in one window (checked at run time)
STREAM_OPS = 6000
PHRASE_POOL = 1
# stream positions (a phrase slot of KIND_CYCLE, early in every window)
# of phrases the warm-up does not run: each runs the positional sidecar
# Spark job once inside the timed window (one, not more: each costs
# about as much as a hundred warm queries)
COLD_PHRASE_AT = (34,)
ORACLE_SAMPLES = 3
TAIL_TOP = 90.0
DISTRIBUTED_SAMPLES = 1
CHANGED = 100
BURST = 10
SMALL_BATCH = 50
BIG_BATCH = 50
BATCH_CHECKS = 3
FRESH_CHECKS = 3
KP_PASS_DOCS = 200
# a window holds one or two passes, 10-20 calls: too few for a
# percentile tail, so the keyphrase tail is the mean of a pass's slowest
# calls (the slowest call alone, always kpminer_dedup, spread 0.2
# between seeds)
KP_TAIL_CALLS = 3
FIXTURE_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fixtures", "sf0.01_documents.parquet")


def _extractors():
    from pke_spark.ops import graph, keyphrase, topicrank, yake
    return {
        "firstphrases": lambda d: keyphrase.firstphrases(d, 5),
        "tfidf_topk": lambda d: keyphrase.tfidf_topk(d, 3),
        "kpminer_dedup": lambda d: keyphrase.kpminer_dedup(d, 5),
        "textrank": lambda d: graph.textrank_topk(d, 5),
        "singlerank": lambda d: graph.singlerank_topk(d, 5),
        "positionrank": lambda d: graph.positionrank_topk(d, 5),
        "topicrank": lambda d: topicrank.topicrank_topk(d, 5),
        "multipartiterank": lambda d: topicrank.multipartiterank_topk(d, 5),
        "yake_lite": lambda d: yake.yake_lite(d, 5),
        "yake_full": lambda d: yake.yake_full(d, 5),
    }


def _sql_twins():
    from pke_spark.ops import keyphrase, yake
    return {"firstphrases": keyphrase.firstphrases_sql(5),
            "tfidf_topk": keyphrase.tfidf_topk_sql(3),
            "yake_lite": yake.yake_lite_sql(5)}


# ------------------------------------------------------------ ledger

class Ledger:
    """Attempted / failed operation counts; the first few failures are
    reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def ok(self, good: bool, what: str) -> bool:
        self.attempted += 1
        if not good:
            self.failed += 1
            if self.failed <= 10:
                print(f"perfbench: FAILED {what}", file=sys.stderr)
        return good

    def call(self, what: str, fn, *a, **kw):
        """Run one timed operation; an exception is a failed op and
        returns None."""
        try:
            out = fn(*a, **kw)
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            self.ok(False, f"{what}: {type(exc).__name__}: {exc}")
            return None
        self.attempted += 1
        return out

    @property
    def ok_ratio(self) -> float:
        return 1.0 - self.failed / max(self.attempted, 1)


def same_topk(got, want, tol: float = 1e-6) -> bool:
    """Two (rank, doc_id, score) lists agree: equal length and scores,
    and equal doc sets within every score tie (ties at the k-th place
    may be cut at different docs, so the last tie group only needs
    equal scores)."""
    if len(got) != len(want):
        return False
    gs = [round(float(s), 6) for _r, _d, s in got]
    ws = [round(float(s), 6) for _r, _d, s in want]
    if any(abs(a - b) > tol for a, b in zip(gs, ws)):
        return False
    if not got:
        return True
    last = ws[-1]
    g = {}
    w = {}
    for (_r, d, _s), s in zip(got, gs):
        if s != last:
            g.setdefault(s, set()).add(int(d))
    for (_r, d, _s), s in zip(want, ws):
        if s != last:
            w.setdefault(s, set()).add(int(d))
    return g == w


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    from pke_spark.golden import normalize
    na, _ = normalize(a)
    nb, _ = normalize(b)
    return list(na.columns) == list(nb.columns) and na.equals(nb)


# ------------------------------------------------------------ run state

class Run:
    """One benchmark run: session, tracer, ledger, timings."""

    def __init__(self, seed: int, seconds: float, traced: bool, root: str,
                 tmp: str):
        self.seed = seed
        self.seconds = seconds
        self.root = root
        self.tmp = tmp
        self.tracer = Tracer() if traced else NullTracer()
        self.ledger = Ledger()
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.phase_name = None

    # -- session --
    def start_session(self) -> float:
        from pke_spark.session import get_spark

        from .guard import check_workers
        # the driver JVM options repeat get_spark's -XX:+UseParallelGC,
        # which a caller's value replaces
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'java')} "
                f"-Dderby.system.home={os.path.join(self.tmp, 'derby')}",
        }
        if self.tracer.enabled:
            os.makedirs(os.path.join(self.tmp, "eventlog"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = os.path.join(self.tmp, "eventlog")
            # one plain JSON-lines file per application
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=NPROC,
                                   extra_conf=conf)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("bench.guard"):
            check_workers(self.spark, self.root)
        self.extra["get_spark_s"] = dt
        return dt

    def stop_session(self) -> None:
        """Stop Spark, close the JVM gateway and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — kill, then reap
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """Label Spark jobs with ``name`` (the event log groups by it)."""
        if name != self.phase_name:
            self.spark.sparkContext.setJobGroup(name, name)
            self.phase_name = name
        yield

    def df(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def _timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


# ------------------------------------------------------------ tracing

def install_wrappers(tr: Tracer) -> None:
    """Spans on the driver-side layer functions, on the bindings their
    callers use (traced run only)."""
    from pke_spark.index import build, codec, serving

    def decoded(orig):
        def decode_blocks(blocks):
            with tr.span("codec.decode_blocks") as sp:
                out = orig(blocks)
            sp.rows = len(out[0])
            return out
        return decode_blocks

    def docset(orig):
        def docset_cache(self, key, compute):
            def spanned_compute():
                with tr.span("build.docset_compute"):
                    return compute()
            with tr.span("build.docset_cache"):
                return orig(self, key, spanned_compute)
        return docset_cache

    tr.wrap_with(codec, "decode_blocks", decoded)
    tr.wrap(build.IndexReader, "term_dfs", "build.term_dfs")
    tr.wrap(build.IndexReader, "decoded_postings", "build.decoded_postings")
    tr.wrap_with(build.IndexReader, "docset_cache", docset)
    for f in ("expand_prefix_indexed", "expand_fuzzy_indexed",
              "expand_wildcard_indexed", "expand_regex_indexed"):
        tr.wrap(serving, f, "serving.expand")
    tr.wrap(serving, "term_positions", "positions.term_positions")
    tr.wrap(serving, "_BatchScorer", "serving.batch_driver_route")
    tr.wrap(serving, "_bucketed_batch_topk", "serving.batch_bucketed_route")


# per-workload figures recorded in the traced run; the end-to-end
# metrics generalize them across workloads (see README.md)
WORKLOAD_EXTRAS = ("query_p50_ms", "query_tail_ms", "tail_percentile",
                   "query_qps", "uncached_query_share", "cold_query_p50_ms",
                   "build_docs_per_s", "freshness_s", "batch_qps",
                   "compact_s", "index_bytes_per_input_byte",
                   "extract_docs_per_s")


def layer_metrics(run: Run, wall: float) -> dict[str, float]:
    """Every per-layer metric (0 where the workload skips the layer)."""
    tr = run.tracer
    ex = run.extra
    ms = 1e3

    def dur(s):
        return s.end - s.start

    def p50(spans):
        return statistics.median(dur(s) for s in spans) * ms if spans else 0

    parents = {}
    for s in tr.spans:
        parents.setdefault(s.parent, []).append(s)

    def kids_named(s, name):
        return [c for c in parents.get(s.sid, ()) if c.name == name]

    dp = tr.by_name("build.decoded_postings")
    dsc = tr.by_name("build.docset_cache")
    qs = tr.by_name("serving.querystring")
    dec = tr.by_name("codec.decode_blocks")
    batches = tr.by_name("serving.querystring_topk_batch")
    b_drv = sum(dur(b) for b in batches
                if kids_named(b, "serving.batch_driver_route"))
    b_dist = sum(dur(b) for b in batches
                 if kids_named(b, "serving.batch_bucketed_route"))
    qs_ms = [dur(s) * ms for s in qs]
    m = {
        "session.get_spark_s": tr.total("session.get_spark"),
        "index.build.build_index_s": tr.total("build.build_index"),
        "index.build.compact_s": tr.total("build.compact"),
        "index.build.reader_open_ms": p50(tr.by_name("build.reader_open")),
        "index.build.term_dfs_ms": tr.total("build.term_dfs") * ms,
        "index.build.term_dfs_calls": len(tr.by_name("build.term_dfs")),
        "index.build.decoded_postings_ms":
            tr.total("build.decoded_postings") * ms,
        "index.build.decoded_postings_calls": len(dp),
        "index.build.decoded_postings_miss_ratio":
            (sum(1 for s in dp if kids_named(s, "codec.decode_blocks"))
             / len(dp)) if dp else 0,
        "index.build.docset_miss_ratio":
            (sum(1 for s in dsc if kids_named(s, "build.docset_compute"))
             / len(dsc)) if dsc else 0,
        "index.build.docset_compute_ms":
            tr.total("build.docset_compute") * ms,
        "index.build.postings_bytes": ex.get("postings_bytes", 0),
        "index.build.posting_rows": ex.get("posting_rows", 0),
        "index.codec.decode_blocks_calls": len(dec),
        "index.codec.decode_blocks_ms": tr.total("codec.decode_blocks") * ms,
        "index.codec.rows_decoded": sum(getattr(s, "rows", 0) for s in dec),
        "index.wand.search_p50_ms": p50(tr.by_name("wand.search")),
        "index.wand.search_calls": len(tr.by_name("wand.search")),
        "index.serving.querystring_p50_ms": p50(qs),
        "index.serving.querystring_tail_ms":
            tail(qs_ms)[1] if qs_ms else 0,
        "index.serving.querystring_calls": len(qs),
        "index.serving.expand_ms": tr.total("serving.expand") * ms,
        "index.serving.querystring_spark_jobs":
            ex.get("querystring_spark_jobs", 0),
        "index.serving.batch_driver_s": b_drv,
        "index.serving.batch_distributed_s": b_dist,
        "index.serving.batch_distributed_share":
            b_dist / (b_drv + b_dist) if b_drv + b_dist else 0,
        "index.positions.build_positions_s":
            tr.total("positions.build_positions"),
        "index.positions.term_positions_ms":
            tr.total("positions.term_positions") * ms,
        "index.positions.term_positions_calls":
            len(tr.by_name("positions.term_positions")),
        "index.delete.delete_docs_ms": tr.total("delete.delete_docs") * ms,
        "streaming.append_batch_s": tr.total("streaming.append_batch"),
        "streaming.refresh_fold_s": tr.total("streaming.refresh_postings"),
    }
    for name in EXTRACTORS:
        m[f"ops.{name}_s"] = tr.total(f"ops.{name}")
    spark_m = ex.get("eventlog") or {p: dict.fromkeys(eventlog.METRICS, 0)
                                     for p in PHASES}
    for p in PHASES:
        for k in eventlog.METRICS:
            m[f"spark.{p}.{k}"] = spark_m[p][k]
    st = self_times(tr.spans)
    bench_self = sum(st[s.sid] for s in tr.spans if s.name.startswith("bench."))
    m["trace.wall_s"] = wall
    m["trace.uncovered_s"] = wall - tr.covered()
    m["trace.bench_self_s"] = bench_self
    m["host.nproc"] = NPROC
    m["host.steal_share"] = ex.get("steal_share", 0)
    for k in WORKLOAD_EXTRAS:
        m[f"workload.{k}"] = ex.get(k, 0)
    return m


# ------------------------------------------------------------ index

def _phrases(rows: pd.DataFrame, head: set, rng, n: int) -> list[str]:
    """``n`` distinct adjacent head-term pairs taken from the corpus
    itself, so every phrase matches at least one doc."""
    from pke_spark.tokenizer import tokenize_text
    pool: list[str] = []
    for text in rows["content"].tolist():
        toks = tokenize_text(text)
        pairs = [(a, b) for a, b in zip(toks, toks[1:])
                 if a in head and b in head and a != b]
        if pairs:
            a, b = pairs[int(rng.integers(0, len(pairs)))]
            q = f'"{a} {b}"'
            if q not in pool:
                pool.append(q)
        if len(pool) == n:
            return pool
    raise RuntimeError("corpus has too few head-term phrases")


# One cycle of interactive op kinds, repeated, so every window prefix of
# a run has the same mix (a random mix moved p50 by several percent
# between seeds). No query log of this engine exists: the shares are
# assumptions, chosen so every serving path runs many times per window
# (README.md gives the reason for each share).
KIND_CYCLE = ("terms", "bool", "terms", "prefix", "terms", "rare", "fuzzy",
              "terms", "bool", "phrase", "terms", "rare", "terms", "fuzzy",
              "prefix", "terms", "bool", "terms", "terms", "phrase",
              "terms", "rare", "bool", "prefix", "fuzzy")


def _serve_stream(qs: QueryStream, pool: list[str], cold: list[str],
                  n: int, rng):
    """(kind, payload) ops: term lists for wand.search, rare-id lookups,
    and boolean / prefix / fuzzy / phrase query strings; phrases come
    from ``pool``, except the ``cold`` ones at COLD_PHRASE_AT."""
    ops = []
    for i in range(n):
        k = KIND_CYCLE[i % len(KIND_CYCLE)]
        if k == "terms":
            ops.append(("terms", qs.terms()))
        elif k == "rare":
            ops.append(("terms", qs.rare()))
        elif k == "bool":
            ops.append(("qs", qs.boolean()))
        elif k == "prefix":
            ops.append(("qs", qs.prefix()))
        elif k == "fuzzy":
            ops.append(("qs", qs.fuzzy()))
        else:
            ops.append(("qs", pool[int(rng.integers(0, len(pool)))]))
    for i, p in zip(COLD_PHRASE_AT, cold):
        ops[i] = ("qs", p)
    return ops


class _OracleStats:
    """Memoizes pke_spark.oracle.build_stats for one texts dict, so the
    independent scorer tokenizes the corpus once per run, not once per
    query (the scoring is the oracle's own code)."""

    def __init__(self, texts):
        self.texts = texts

    def __enter__(self):
        from pke_spark import oracle
        self.orig = oracle.build_stats
        cached = self.orig(self.texts)
        oracle.build_stats = lambda t: cached if t is self.texts \
            else self.orig(t)
        return self

    def __exit__(self, *exc):
        from pke_spark import oracle
        oracle.build_stats = self.orig


def _oracle_rows(texts, terms):
    from pke_spark import oracle
    d = oracle.bm25_topk(texts, terms, K)
    return list(zip(d["rank"].tolist(), d["doc_id"].tolist(),
                    d["score"].tolist()))


class _IndexInputs:
    """Everything the index workload sends, generated from the seed."""

    def __init__(self, seed: int):
        corpus = CodeCorpus(seed)
        self.rows, df = corpus.files(np.arange(INDEX_DOCS))
        self.posting_rows = int(df.sum())
        qs = QueryStream(seed, corpus.vocab, df, INDEX_DOCS,
                         torso_size=TORSO_POOL)
        rng = np.random.default_rng([seed, 5])
        phrases = _phrases(self.rows, set(qs.head), rng,
                           PHRASE_POOL + len(COLD_PHRASE_AT))
        self.pool = phrases[:PHRASE_POOL]
        # the warm-up decodes every head and pooled torso term and runs
        # every pool phrase's positional sidecar job once, so in the
        # timed window plain, boolean and pool-phrase queries hit the
        # caches and rare, prefix, fuzzy and the cold phrases miss
        # them. A warm-up that left the hit share near one half put p50
        # on the edge between the two latency clusters (p50 moved
        # 25-36 ms between seeds).
        warm_terms = qs.head + qs.torso
        self.warm = [("qs", p) for p in self.pool] + [
            ("terms", warm_terms[i:i + 8])
            for i in range(0, len(warm_terms), 8)]
        self.stream = _serve_stream(qs, self.pool, phrases[PHRASE_POOL:],
                                    STREAM_OPS, rng)
        # one commit batch: CHANGED files get a new version (rev 1)
        self.changed = rng.choice(INDEX_DOCS, CHANGED, replace=False)
        self.old_ids = self.rows["doc_id"].to_numpy()[self.changed]
        self.new_rows, _ = corpus.files(self.changed, rev=1)
        self.bursts = [[qs.terms() if k % 3 else qs.rare()
                        for k in range(BURST)] for _ in range(2)]
        self.small = [{f"s{e}_{j}": (qs.boolean() if j % 4 == 0
                                     else " ".join(qs.terms()))
                       for j in range(SMALL_BATCH)} for e in range(2)]
        self.big = {f"b{j}": " ".join(qs.terms()) for j in range(BIG_BATCH)}
        self.content_bytes = float(self.rows["content"].str.len().sum()
                                   + self.new_rows["content"].str.len().sum())


def index(run: Run) -> None:
    """Serve and maintain: a dense index with positions is built in
    set-up and serves a warm closed-loop stream, half before and half
    after the lifecycle; in the lifecycle a sparse index is built by the
    fused pass, takes one commit batch (delete, append, incremental
    fold, new cold reader, query burst, batch sets on both routes) and
    is compacted."""
    from pke_spark.index import serving, wand
    from pke_spark.index.build import (IndexReader, build_index, compact,
                                       postings_path)
    from pke_spark.index.delete import delete_docs
    from pke_spark.index.positions import build_positions
    from pke_spark.streaming import append_batch, refresh_postings
    from pyspark.sql import functions as F

    tr, led = run.tracer, run.ledger
    with tr.span("bench.generate"):
        t0 = time.perf_counter()
        inp = _IndexInputs(run.seed)
        run.extra["gen_s"] = time.perf_counter() - t0
    run.extra["posting_rows"] = inp.posting_rows
    rows = inp.rows

    session_s = run.start_session()
    spark = run.spark
    sc = spark.sparkContext

    def as_docs(pdf):
        return run.df(pdf[["doc_id", "content"]]).select(
            "doc_id", F.col("content").alias("text"))

    docs = as_docs(rows)

    def one(ix, op):
        kind, payload = op
        if kind == "terms":
            with tr.span("wand.search"):
                return led.call("search", wand.search, ix, payload, K)
        with tr.span("serving.querystring"):
            return led.call("querystring",
                            serving.querystring_search_indexed, ix,
                            payload, K)

    def open_reader(path):
        with run.phase("query"), tr.span("build.reader_open"):
            return led.call("reader_open", IndexReader, spark, path)

    # ---- set-up: dense index + positions, warm-up stream ----
    dense_dir = os.path.join(run.tmp, "dense_ix")
    with tr.span("bench.setup"):
        t0 = time.perf_counter()
        with run.phase("build"):
            with tr.span("build.build_index"):
                led.call("build_index", build_index, docs, dense_dir,
                         n_parts=8, n_salts=8, dense_doc_ids=True)
            with tr.span("positions.build_positions"):
                led.call("build_positions", build_positions, docs,
                         dense_dir, n_salts=8)
        serve_ix = open_reader(dense_dir)
        with run.phase("query"):
            for op in inp.warm:
                one(serve_ix, op)
        run.e2e["setup_s"] = session_s + time.perf_counter() - t0

    # ---- timed warm closed loop, in two halves: one before the
    # lifecycle and one after it, so a burst of host load during one of
    # them moves the figures less ----
    samples, lat, reqs = [], [], []
    stream = iter(inp.stream)
    elapsed = 0.0
    n_qs_jobs = 0

    def window(seconds):
        nonlocal elapsed, n_qs_jobs
        with run.phase("query"), tr.span("bench.measure"):
            t_first = time.perf_counter()
            for op in stream:
                with tr.request() as req:
                    count_jobs = tr.enabled and op[0] == "qs"
                    if count_jobs:
                        j0 = len(sc.statusTracker().getJobIdsForGroup(
                            "query"))
                    t0 = time.perf_counter()
                    res = one(serve_ix, op)
                    t1 = time.perf_counter()
                    if count_jobs:
                        n_qs_jobs += len(sc.statusTracker()
                                         .getJobIdsForGroup("query")) - j0
                reqs.append(req)
                lat.append(t1 - t0)
                if op[0] == "terms" and res is not None:
                    samples.append((op[1], res))
                if t1 - t_first >= seconds:
                    break
            else:
                raise RuntimeError("query stream ran out before the window "
                                   "ended")
            elapsed += time.perf_counter() - t_first

    window(run.seconds / 2)

    # ---- lifecycle: fused build, one commit batch, batches, compact.
    # job_s is the wall time of every step below except the checks ----
    life_dir = os.path.join(run.tmp, "life_ix")
    job_s = 0.0

    @contextlib.contextmanager
    def measure(phase):
        nonlocal job_s
        t0 = time.perf_counter()
        with run.phase(phase), tr.span("bench.measure"):
            yield
        job_s += time.perf_counter() - t0

    with measure("build"), tr.span("build.build_index"):
        _, dt = _timed(led.call, "build_index", build_index, docs, life_dir,
                       n_parts=8, n_salts=8)
    run.extra["build_docs_per_s"] = INDEX_DOCS / dt

    cold = []
    batch_n, batch_s = 0, 0.0

    def burst(ix, queries):
        with measure("query"):
            for terms in queries:
                with tr.request(), tr.span("wand.search"):
                    _, d = _timed(led.call, "search", wand.search, ix,
                                  terms, K)
                cold.append(d)

    def batch(ix, queries, distributed=False):
        nonlocal batch_n, batch_s
        budget = serving.BATCH_DRIVER_MAX_WORK
        if distributed:
            # see README: the natural crossing needs n_queries x n_docs
            # > 1e8, far past this run's time budget
            serving.BATCH_DRIVER_MAX_WORK = 0
        try:
            with measure("batch"), \
                    tr.span("serving.querystring_topk_batch"):
                out, dt = _timed(
                    led.call, "querystring_topk_batch",
                    lambda: serving.querystring_topk_batch(
                        ix, queries, K).toPandas())
        finally:
            serving.BATCH_DRIVER_MAX_WORK = budget
        batch_n += len(queries)
        batch_s += dt
        if out is None:
            return
        with run.phase("check"), tr.span("bench.check"):
            plain = [q for q in sorted(queries)
                     if "+" not in queries[q]][:BATCH_CHECKS]
            for qid in plain:
                want = wand.search(ix, queries[qid].split(), K)
                g = out[out["query_id"] == qid].sort_values("rank")
                got = list(zip(g["rank"], g["doc_id"], g["score"]))
                led.ok(same_topk(got, want), f"batch {qid}")

    # freshness: from the start of the delete until a new reader
    # returns the new version of a changed file
    changed, new_rows = inp.changed, inp.new_rows
    t0 = time.perf_counter()
    with measure("fold"):
        with tr.span("delete.delete_docs"):
            led.call("delete_docs", delete_docs, spark, life_dir,
                     inp.old_ids.tolist())
        with tr.span("streaming.append_batch"):
            led.call("append_batch", append_batch, as_docs(new_rows),
                     life_dir, 1)
        with tr.span("streaming.refresh_postings"):
            led.call("refresh_postings", refresh_postings, spark, life_dir,
                     incremental=True)
    with measure("query"):
        ix = open_reader(life_dir)
        with tr.request(), tr.span("wand.search"):
            res = led.call("search", wand.search, ix,
                           [f"v{int(changed[0])}r1"], K)
    run.extra["freshness_s"] = time.perf_counter() - t0
    with run.phase("check"), tr.span("bench.check"):
        new_ids = new_rows["doc_id"].tolist()
        led.ok(bool(res) and res[0][1] == new_ids[0], "new version visible")
        led.ok(int(ix.n_docs) == INDEX_DOCS + CHANGED,
               f"n_docs {ix.n_docs} != {INDEX_DOCS + CHANGED}")
        for j in range(1, FRESH_CHECKS):
            f = int(changed[j])
            got_new = wand.search(ix, [f"v{f}r1"], K)
            got_old = wand.search(ix, [f"v{f}r0"], K)
            led.ok([d for _r, d, _s in got_new] == [new_ids[j]],
                   f"file {f}: new version")
            led.ok(got_old == [], f"file {f}: old version still served")
    burst(ix, inp.bursts[0])
    batch(ix, inp.small[0])
    batch(ix, inp.big, distributed=True)

    with run.phase("check"), tr.span("bench.check"):
        before = [wand.search(ix, t, K) for t in inp.bursts[1]]
    with measure("compact"), tr.span("build.compact"):
        _, dt = _timed(led.call, "compact", compact, spark, life_dir)
    run.extra["compact_s"] = dt
    with measure("query"):
        ix = open_reader(life_dir)
    burst(ix, inp.bursts[1])
    with run.phase("check"), tr.span("bench.check"):
        after = [wand.search(ix, t, K) for t in inp.bursts[1]]
        led.ok(before == after, "top-k identical across compact")
    batch(ix, inp.small[1])

    window(run.seconds / 2)
    lat_ms = [x * 1e3 for x in lat]
    # capped at p90 (>= 100 queries): at 150-300 queries per window a
    # p95/p90 switch between runs would change what the metric means
    q, tail_ms = tail(lat_ms, top=TAIL_TOP)
    run.e2e["latency_p50_ms"] = percentile(lat_ms, 50)
    run.e2e["latency_tail_ms"] = tail_ms
    run.e2e["throughput_per_s"] = len(lat) / elapsed
    run.extra.update(query_p50_ms=run.e2e["latency_p50_ms"],
                     query_tail_ms=tail_ms, tail_percentile=q,
                     query_qps=run.e2e["throughput_per_s"],
                     querystring_spark_jobs=n_qs_jobs)
    if tr.enabled:
        missed = {s.req for s in tr.by_name("codec.decode_blocks")}
        run.extra["uncached_query_share"] = \
            len(set(reqs) & missed) / len(reqs)

    with run.phase("check"), tr.span("bench.check"):
        texts = dict(zip(rows["doc_id"].tolist(), rows["content"].tolist()))
        picks = np.random.default_rng([run.seed, 6]).choice(
            len(samples), size=min(len(samples), ORACLE_SAMPLES),
            replace=False).tolist()
        with _OracleStats(texts):
            for j in picks:
                terms, res = samples[j]
                led.ok(same_topk(res, _oracle_rows(texts, terms)),
                       f"oracle {terms}")
        for j in picks[:DISTRIBUTED_SAMPLES]:
            terms, res = samples[j]
            dist = [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                    for r in wand.wand_topk(serve_ix, terms, K,
                                            driver_fastpath=False).collect()]
            led.ok(same_topk(res, dist), f"distributed {terms}")
        run.extra["postings_bytes"] = _dir_bytes(postings_path(dense_dir))
    del serve_ix
    shutil.rmtree(dense_dir, ignore_errors=True)

    run.e2e["job_s"] = job_s
    run.extra["index_bytes_per_input_byte"] = \
        _dir_bytes(postings_path(life_dir)) / inp.content_bytes
    run.extra.update(cold_query_p50_ms=percentile(cold, 50) * 1e3,
                     batch_qps=batch_n / batch_s)


# ------------------------------------------------------------ keyphrase

def keyphrase(run: Run) -> None:
    import duckdb
    from pke_spark.golden import load_golden

    tr, led = run.tracer, run.ledger
    table = DocTable(run.seed)
    ex = _extractors()

    def call(name, docs):
        with run.phase("extract"), tr.span(f"ops.{name}"):
            t0 = time.perf_counter()
            out = led.call(name, lambda: ex[name](docs).toPandas())
            return out, time.perf_counter() - t0

    with tr.span("bench.generate"):
        t0 = time.perf_counter()
        warm_rows = table.rows(0, KP_PASS_DOCS)
        fixture = pd.read_parquet(FIXTURE_DOCS)
        run.extra["gen_s"] = time.perf_counter() - t0
    session_s = run.start_session()
    # warm-up pass: every extractor once, each on the input its check
    # needs (SQL twins: the generated table; golden-only: sf0.01)
    warm_out = {}
    with tr.span("bench.setup"):
        t0 = time.perf_counter()
        warm_docs = run.df(warm_rows)
        fix_docs = run.df(fixture)
        for name in EXTRACTORS:
            warm_out[name], _ = call(
                name, warm_docs if name in SQL_TWINS else fix_docs)
        warm_s = time.perf_counter() - t0
    run.e2e["setup_s"] = session_s + warm_s

    with tr.span("bench.check"):
        con = duckdb.connect()
        con.register("documents", warm_rows)
        for name, sql in _sql_twins().items():
            got = warm_out[name]
            led.ok(got is not None and frames_equal(got, con.execute(sql)
                                                    .fetchdf()),
                   f"{name} vs its DuckDB twin")
        con.close()
        for name in EXTRACTORS:
            if name in SQL_TWINS:
                continue
            g = load_golden(name)
            want = pd.DataFrame(g["rows"], columns=g["columns"])
            got = warm_out[name]
            led.ok(got is not None and frames_equal(got, want),
                   f"{name} vs its sf0.01 golden")

    lat, slowest, passes = [], [], []
    start = KP_PASS_DOCS
    with tr.span("bench.measure"):
        # whole passes; another one starts while the window is open
        t_first = time.perf_counter()
        while time.perf_counter() - t_first < run.seconds:
            docs = run.df(table.rows(start, KP_PASS_DOCS))
            start += KP_PASS_DOCS
            t0 = time.perf_counter()
            calls = []
            for name in EXTRACTORS:
                out, dt = call(name, docs)
                calls.append(dt)
                led.ok(out is not None and len(out) > 0,
                       f"{name} returned rows")
            passes.append(time.perf_counter() - t0)
            lat += calls
            slowest.append(statistics.mean(sorted(calls)[-KP_TAIL_CALLS:]))
    n_docs = KP_PASS_DOCS * len(passes) * len(EXTRACTORS)
    run.e2e["latency_p50_ms"] = percentile(lat, 50) * 1e3
    run.e2e["latency_tail_ms"] = statistics.median(slowest) * 1e3
    run.e2e["throughput_per_s"] = n_docs / sum(passes)
    run.e2e["job_s"] = statistics.median(passes)
    run.extra["extract_docs_per_s"] = run.e2e["throughput_per_s"]


WORKLOADS = {"index": index, "keyphrase": keyphrase}
