"""Deduplication operators over the documents table — the
training-data-pipeline extensions (exact, MinHash+LSH, SimHash,
n-gram Jaccard; embedding near-dup lives in ops/similarity.py).

All hashing is expressed with md5 (identical in Spark and DuckDB) so
every operator has an oracle twin:
- 64-bit-ish hashes: first 15 hex chars of md5 -> BIGINT (60 bits),
  Spark ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT``.

Scale notes: exact dedup is a hash-groupBy (one shuffle, AQE-skew
safe). MinHash-LSH is the scale path for near-dup: signatures are a
groupBy over (doc, hash_i); candidate pairs come from equi-joins on
band keys (no cross join anywhere). SimHash emits one fingerprint per
doc; banding on simhash prefixes gives near-dup candidates without a
cross join. n-gram Jaccard is exact pairwise over shingle-share pairs
(equi-join on shingle), suitable as a verifier behind LSH at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import cache_latest

from ..tokenizer import duckdb_toks_cte, tokens_exploded
from .perdoc import per_doc_rows

N_MINHASH = 16
N_BANDS = 2          # 2 bands x 8 rows: P(candidate) = 1-(1-J^8)^2
ROWS_PER_BAND = N_MINHASH // N_BANDS
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.5


def _h64(col) -> F.Column:
    """First 15 hex chars of md5 -> non-negative BIGINT (60 bits)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_H64_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


# ------------------------------------------------------------ exact

def dedup_exact(docs: DataFrame) -> DataFrame:
    """(doc_id, text_md5, group_size, canonical_doc_id) for every doc;
    group_size > 1 marks exact duplicates, canonical = min doc_id."""
    h = docs.select("doc_id", F.md5("text").alias("text_md5"))
    w = Window.partitionBy("text_md5")
    return (h.withColumn("group_size", F.count("*").over(w))
            .withColumn("canonical_doc_id", F.min("doc_id").over(w))
            .select("doc_id", "text_md5", "group_size", "canonical_doc_id"))


def dedup_exact_sql() -> str:
    return """SELECT doc_id, md5(text) AS text_md5,
       count(*) OVER (PARTITION BY md5(text))::BIGINT AS group_size,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id
FROM documents"""


# ------------------------------------------------------------ minhash

def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, i, sig): sig_i = min over distinct tokens of h64(i:token).

    Computed per document inside one tokenized-in-pass map
    (ops/perdoc.py): a doc's signature depends only on its own distinct
    tokens, so the old plan's token-distinct shuffle, the
    n_hashes-way crossJoin (16x token rows through md5), and the
    (doc, i) groupBy shuffle were all movement the math never needed.
    Python's hashlib.md5 over the UTF-8 bytes equals Spark's md5
    bit-for-bit (asserted in tests), so the values — and the frozen
    oracle hashes — are unchanged."""
    import hashlib


    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        uniq = set(terms)
        if not uniq:
            return []
        return [(doc_id, i,
                 min(int(hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:15],
                         16) for t in uniq))
                for i in range(n_hashes)]

    return per_doc_rows(docs, row_fn, "doc_id long, i long, sig long")


# the signature DataFrame of the most recent minhash_lsh_pairs call;
# kept cached for that (lazy) result's lifetime and unpersisted on the
# next call so a long-lived session holds at most ONE cached set
_LAST_SIGS: list = []


MAX_BAND_GROUP = 64  # star-link guard for mass-duplicate band groups


def _band_rows(docs: DataFrame, n_hashes: int = N_MINHASH,
               n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, key): LSH band keys computed directly in the
    per-doc pass — the band key is a pure function of the doc's own
    signature vector, so the clustering path never materializes the
    (doc, i, sig) table or its (doc, band) groupBy at all. Key text is
    byte-identical to the groupBy/string_agg formulation (str(int) of
    each sig in i order, comma-joined)."""
    import hashlib


    rows_per = n_hashes // n_bands

    def row_fn(doc_id: int, terms: list[str]) -> list[tuple]:
        uniq = set(terms)
        if not uniq:
            return []
        sigs = [min(int(hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:15],
                        16) for t in uniq)
                for i in range(n_hashes)]
        return [(doc_id, bnd,
                 ",".join(str(s)
                          for s in sigs[bnd * rows_per:(bnd + 1) * rows_per]))
                for bnd in range(n_bands)]

    return per_doc_rows(docs, row_fn, "doc_id long, band int, key string")


def _lsh_candidate_pairs(docs: DataFrame, n_hashes: int = N_MINHASH,
                         n_bands: int = N_BANDS,
                         max_group: int = MAX_BAND_GROUP,
                         bands: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a, doc_b) LSH candidate pairs. Shared by the
    pair-scoring surface (``minhash_lsh_pairs``, which passes bands
    derived from its cached signature table so est_jaccard can reuse
    the sigs) and the clustering surface (``dedup_clusters``, which
    feeds the direct per-doc ``_band_rows`` and never touches sigs —
    the est_jaccard aggregation was computed and discarded before).

    Hot-group guard: a band bucket holding a mass of near-identical
    documents would emit O(g^2) pairs from one reducer. Buckets larger
    than ``max_group`` are STAR-LINKED instead — every member pairs
    with the bucket's min doc_id only (the canonical), which is what a
    dedup pipeline needs (connected components via the canonical) at
    O(g) output. Deterministic, and mirrored exactly in the SQL twin."""
    if bands is None:
        bands = _band_rows(docs, n_hashes, n_bands)
    wg = Window.partitionBy("band", "key")
    sized = (bands.withColumn("gsize", F.count("*").over(wg))
             .withColumn("gmin", F.min("doc_id").over(wg)))
    small = sized.filter(F.col("gsize") <= max_group).drop("gsize", "gmin")
    small_pairs = (small.alias("a").join(
        small.alias("b"),
        (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b")))
    big_pairs = (sized.filter((F.col("gsize") > max_group)
                              & (F.col("doc_id") != F.col("gmin")))
                 .select(F.col("gmin").alias("doc_a"),
                         F.col("doc_id").alias("doc_b")))
    return small_pairs.unionByName(big_pairs).distinct()


def minhash_lsh_pairs(docs: DataFrame, n_hashes: int = N_MINHASH,
                      n_bands: int = N_BANDS,
                      max_group: int = MAX_BAND_GROUP) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for pairs sharing >= 1 LSH band.
    est_jaccard = fraction of matching minhash signatures. Pair
    generation (and its hot-group star-link guard) lives in
    ``_lsh_candidate_pairs``; here bands derive from the CACHED
    signature table because the est aggregation reuses it."""
    sigs = cache_latest(minhash_signatures(docs, n_hashes), _LAST_SIGS)
    rows = n_hashes // n_bands
    bands = sigs.groupBy("doc_id",
                         (F.col("i") / rows).cast("int").alias("band"))         .agg(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sig"))),
            lambda s: s.sig.cast("string")), ",").alias("key"))
    pairs = _lsh_candidate_pairs(docs, n_hashes, n_bands, max_group,
                                 bands=bands)
    est = (pairs
           .join(sigs.withColumnRenamed("doc_id", "doc_a")
                     .withColumnRenamed("sig", "sig_a"), ["doc_a"])
           .join(sigs.withColumnRenamed("doc_id", "doc_b")
                     .withColumnRenamed("sig", "sig_b"), ["doc_b", "i"])
           .groupBy("doc_a", "doc_b")
           .agg(F.round(F.sum((F.col("sig_a") == F.col("sig_b")).cast("int"))
                        / float(n_hashes), 6).alias("est_jaccard")))
    return est


def minhash_lsh_pairs_sql(n_hashes: int = N_MINHASH,
                          n_bands: int = N_BANDS,
                          max_group: int = MAX_BAND_GROUP) -> str:
    rows = n_hashes // n_bands
    h = _H64_SQL.format(x="i::VARCHAR || ':' || term")
    return f"""WITH {duckdb_toks_cte()},
dt AS (SELECT DISTINCT doc_id, term FROM toks),
sigs AS (
  SELECT doc_id, i, min({h}) AS sig
  FROM dt CROSS JOIN (SELECT unnest(range({n_hashes})) AS i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, (i // {rows})::INTEGER AS band,
         string_agg(sig::VARCHAR, ',' ORDER BY i) AS key
  FROM sigs GROUP BY doc_id, i // {rows}),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY band, key) AS gsize,
         min(doc_id) OVER (PARTITION BY band, key) AS gmin
  FROM bands),
pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE a.gsize <= {max_group} AND b.gsize <= {max_group}
    UNION ALL
    SELECT gmin AS doc_a, doc_id AS doc_b
    FROM sized WHERE gsize > {max_group} AND doc_id <> gmin))
SELECT p.doc_a, p.doc_b,
       round(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) / {float(n_hashes)}, 6)
         AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b AND sa.i = sb.i
GROUP BY p.doc_a, p.doc_b"""


# ------------------------------------------------------------ simhash

def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): tf-weighted majority vote over md5-derived
    per-token bit vectors (16 bits: first 4 md5 hex chars)."""
    tc = (tokens_exploded(docs)
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
          .withColumn("val", F.conv(F.substring(F.md5("term"), 1, 4), 16, 10)
                      .cast("long")))
    b = docs.sparkSession.range(bits).select(F.col("id").alias("b"))
    bitsum = (tc.crossJoin(F.broadcast(b))
              .withColumn("bit",
                          (F.floor(F.col("val") / F.pow(F.lit(2.0), F.col("b")))
                           % 2).cast("long"))
              .groupBy("doc_id", "b")
              .agg(F.sum(F.col("tf") * (2 * F.col("bit") - 1)).alias("s")))
    return (bitsum.groupBy("doc_id")
            .agg(F.sum(F.when(F.col("s") > 0,
                              F.pow(F.lit(2.0), F.col("b")).cast("long"))
                       .otherwise(F.lit(0))).alias("simhash")))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    return f"""WITH {duckdb_toks_cte()},
tc AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         ('0x' || substr(md5(term), 1, 4))::BIGINT AS val
  FROM toks GROUP BY doc_id, term),
bitsum AS (
  SELECT doc_id, b, sum(tf * (2 * ((val // (2 ** b)::BIGINT) % 2) - 1)) AS s
  FROM tc CROSS JOIN (SELECT unnest(range({bits})) AS b)
  GROUP BY doc_id, b)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (2 ** b)::BIGINT ELSE 0 END)::BIGINT AS simhash
FROM bitsum GROUP BY doc_id"""


# ----------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """(doc_a, doc_b, jaccard) over distinct token n-gram shingles,
    exact, via equi-join on shingle (no cross join)."""

    def sh_rows(did: int, terms: list) -> list:
        # a doc's distinct shingle set is a per-doc fact — building it
        # inside the per-doc pass replaces the old tokenize + window
        # leads + global distinct (a token-row shuffle) with a local
        # set per document
        return [(did, s) for s in
                {" ".join(terms[i:i + n])
                 for i in range(len(terms) - n + 1)}]

    shingles = (per_doc_rows(docs, sh_rows,
                             "doc_id long, shingle string")
                # lazy materialization: three consumers (sizes + both
                # sides of the shingle-share self-join) would each
                # re-run the per-doc pass otherwise
                .localCheckpoint(eager=False))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (shingles.alias("a").join(
        shingles.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("sz", "sz_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                       .withColumnRenamed("sz", "sz_b"), "doc_b")
            .withColumn("jaccard",
                        F.round(F.col("inter")
                                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def ngram_jaccard_pairs_sql(n: int = 3,
                            threshold: float = JACCARD_THRESHOLD) -> str:
    leads = " || ' ' || ".join(
        ["term"] + [f"lead(term, {j}) OVER (PARTITION BY doc_id ORDER BY pos)"
                    for j in range(1, n)])
    return f"""WITH {duckdb_toks_cte()},
sh0 AS (SELECT doc_id, {leads} AS shingle FROM toks),
shingles AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / (sa.sz + sb.sz - i), 6) >= {threshold}"""


def dedup_clusters(docs: DataFrame, n_hashes: int = N_MINHASH,
                   n_bands: int = N_BANDS,
                   max_iter: int = 20) -> DataFrame:
    """(doc_id, cluster_id): connected-component canonicalization of
    the MinHash-LSH near-dup graph — the step a training-data pipeline
    actually needs (pairs alone don't say which doc to keep). Cluster
    id = the minimum doc_id reachable through near-dup edges;
    singletons are their own cluster.

    Distributed shape: min-label propagation — each round every node
    takes the min label over itself and its neighbors, a broadcast-free
    equi-join + groupBy per round, converging in O(diameter) rounds
    (near-dup components are shallow: transitively-similar doc groups).
    The driver loop only checks a one-row convergence count per round;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1.

    The edge list itself is materialized ONCE (eager localCheckpoint)
    before the loop: without it every propagation round re-executed the
    whole LSH candidate pipeline (band window + self-join) from the
    cached signatures — the suite's single most expensive query. Rounds
    are now one join + groupBy over a few-MB edge table. Clustering
    also skips est_jaccard entirely (the edge SET is the same; the
    estimate was aggregated and immediately discarded).
    """
    from pyspark.sql import Observation

    pairs = _lsh_candidate_pairs(docs, n_hashes, n_bands)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .localCheckpoint(eager=True))
    labels = docs.select("doc_id",
                         F.col("doc_id").alias("cluster_id"))
    converged = False
    for i in range(max_iter):
        neigh = (edges.join(labels,
                            edges.dst == labels.doc_id)
                 .groupBy("src").agg(F.min("cluster_id").alias("nmin")))
        # ONE job per round: the changed-count is observed DURING the
        # eager localCheckpoint job instead of a second join+count pass
        obs = Observation(f"dedup_round_{i}")
        new_labels = (labels.join(neigh, labels.doc_id == neigh.src,
                                  "left")
                      .select(labels.doc_id,
                              F.least(labels.cluster_id,
                                      F.coalesce(F.col("nmin"),
                                                 labels.cluster_id))
                              .alias("cluster_id"),
                              (F.coalesce(F.col("nmin"), labels.cluster_id)
                               < labels.cluster_id).alias("chg"))
                      .observe(obs, F.sum(F.col("chg").cast("long"))
                               .alias("n_changed"))
                      .localCheckpoint(eager=True))
        labels = new_labels.select("doc_id", "cluster_id")
        if not (obs.get["n_changed"] or 0):
            converged = True
            break
    if not converged:
        # a component deeper than max_iter rounds: finish with the
        # O(log^2 n)-round alternating-star contraction instead of
        # returning silently-split clusters (ADVICE r3)
        comp = _star_components(edges)
        labels = (docs.select("doc_id")
                  .join(comp, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce(comp.cluster_id, F.col("doc_id"))
                          .alias("cluster_id")))
    return labels.select("doc_id", "cluster_id")


def _star_components(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """(doc_id, cluster_id) for every node that appears in ``edges``:
    alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log^2 n) rounds regardless of component diameter, each round a
    groupBy + explode (one shuffle), no driver-side data.

    Invariant maintained: edge set always points "downhill" after
    normalization (u > v stored as (u, v)); on convergence every node's
    min neighbor IS its component minimum, so cluster_id = min(v) per u
    plus the roots themselves.
    """
    from pyspark.sql import Observation

    # normalize to u > v (parent pointers toward smaller ids)
    e = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    # edge-set signature (count + xor of per-edge hashes: overflow-free
    # under ANSI mode, order-independent) — fixpoint when stable
    sig_cols = [F.count(F.lit(1)).alias("n_edges"),
                F.expr("bit_xor(xxhash64(u, v))").alias("sig")]
    prev = e.agg(*sig_cols).first()
    prev_sig = (prev[0], prev[1])
    for i in range(max_rounds):
        # large-star: every neighbor w > u links to m = min(N(u) u {u})
        nbrs = (e.unionByName(e.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
                .groupBy("u")
                .agg(F.min("v").alias("m"),
                     F.collect_set("v").alias("ws")))
        large = (nbrs.select(F.least("u", "m").alias("m"),
                             F.explode("ws").alias("w"),
                             F.col("u"))
                 .filter(F.col("w") > F.col("u"))
                 .select(F.col("w").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star: every neighbor w <= u links to m; u links to m
        snbrs = (large.groupBy("u")
                 .agg(F.min("v").alias("m"), F.collect_set("v").alias("ws")))
        obs = Observation(f"star_round_{i}")
        new_e = (snbrs.select(F.col("m"),
                              F.explode(F.array_union(
                                  F.col("ws"), F.array(F.col("u"))))
                              .alias("w"))
                 .filter(F.col("w") != F.col("m"))
                 .select(F.greatest("w", "m").alias("u"),
                         F.least("w", "m").alias("v"))
                 .distinct()
                 .observe(obs, *sig_cols)
                 .localCheckpoint(eager=True))
        e = new_e
        new_sig = (obs.get["n_edges"], obs.get["sig"])
        if new_sig == prev_sig:
            break
        prev_sig = new_sig
    # fixpoint: each u's v IS its component min; roots map to themselves
    out = e.groupBy("u").agg(F.min("v").alias("cluster_id"))
    roots = (e.select(F.col("v").alias("u")).distinct()
             .join(e.select("u").distinct(), "u", "left_anti")
             .select("u", F.col("u").alias("cluster_id")))
    return (out.unionByName(roots)
            .select(F.col("u").alias("doc_id"), "cluster_id"))


def dedup_clusters_sql(n_hashes: int = N_MINHASH,
                       n_bands: int = N_BANDS) -> str:
    """DuckDB twin: symmetric transitive closure via a recursive CTE,
    cluster = min(reachable ids + own id)."""
    pairs = minhash_lsh_pairs_sql(n_hashes, n_bands)
    return f"""WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src)
SELECT d.doc_id,
       least(coalesce(c.m, d.doc_id), d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)"""
