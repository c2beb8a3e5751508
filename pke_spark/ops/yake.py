"""YAKE-lite: the SQL-expressible core of the reference's YAKE scorer
(pke/unsupervised/statistical/yake.py, SURVEY §2.6 A5-A8).

Kept (adapted to the code-tokenizer world — 1-based token positions, no
sentence boundaries, lowercase-only tokens):
- POSITION  (yake.py:240-258): ln(ln(3 + median(position))) — earlier
  words matter more (median over token positions instead of sentence
  ids).
- FREQUENCY (yake.py:260-263): tf / (mean_tf + stddev_tf) over the
  doc's words.
- SPREAD (stand-in for DIFFERENT, yake.py:265,296: sentence frequency /
  #sentences): (max_pos - min_pos + 1) / doc_len — how much of the
  document the word covers.

Dropped, with reasons: CASING (tokenizer lowercases, the feature is
constant), RELATEDNESS (block context windows, W1 — not reasonably
SQL-expressible; would live in an applyInPandas like the graph models).

word_weight = position / (frequency + spread)   (lower = better, as in
YAKE); per-doc top-k ascending, tie-break term ASC. Rounded to 6
decimals on both engines.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame

from ..tokenizer import TEXT_STOPWORDS, duckdb_toks_cte


def _round6_half_up(x: float) -> float:
    """Replica of Spark's ``F.round(x, 6)``: Spark rounds via
    ``BigDecimal.valueOf(double)``, i.e. the digits of
    ``Double.toString``, then ``setScale(6, HALF_UP)``. This starts from
    CPython's ``repr`` (the SHORTEST round-trip digits), so it is
    bit-exact only on JVMs whose ``Double.toString`` also gives the
    shortest round-trip digits (JDK 19+); older JVMs can emit extra
    digits and round a boundary value differently.
    ``tests/test_yake_lite.py`` pins it per input on the JVM it runs
    on."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _yake_lite_doc(k: int):
    """Per-document YAKE-lite core for the per-doc executor. Every
    feature is a fact of the document's own token sequence, so the
    token-row groupBy/join/window plan (3 exchanges of token-scale
    rows) collapses into one Python pass (guide §2.3/§4). Float path
    mirrors the SQL twin: exact integer sums, ln/ln position, HALF_UP
    6-decimal round BEFORE ranking (ties on the rounded weight break by
    term ASC, exactly the old window's order). The sample stddev is
    two-pass (mean first, then squared deviations), not the streaming
    Welford update DuckDB's ``stddev`` uses: the two can differ in the
    last ULP, which changes a weight only when it sits exactly on a
    6-decimal rounding boundary."""
    import math as _m

    def row_fn(doc_id: int, terms: list) -> list:
        if not terms:
            return []
        pos: dict = {}
        for i, t in enumerate(terms, start=1):
            pos.setdefault(t, []).append(i)
        n_words = len(pos)
        doc_len = len(terms)
        mean_tf = doc_len / n_words
        if n_words > 1:
            var = sum((len(p) - mean_tf) ** 2 for p in pos.values()) \
                / (n_words - 1)
            std_tf = _m.sqrt(var)
        else:
            std_tf = 0.0
        denom_tf = mean_tf + std_tf
        out = []
        for t, p in pos.items():
            tf = len(p)
            mid = tf // 2
            med = float(p[mid]) if tf % 2 else (p[mid - 1] + p[mid]) / 2.0
            position = _m.log(_m.log(3.0 + med))
            frequency = tf / denom_tf
            spread = (p[-1] - p[0] + 1.0) / doc_len
            out.append((t, tf, _round6_half_up(position
                                               / (frequency + spread))))
        out.sort(key=lambda r: (r[2], r[0]))
        return [(doc_id, rank, t, tf, wt)
                for rank, (t, tf, wt) in enumerate(out[:max(k, 0)], start=1)]

    return row_fn


def yake_lite(docs: DataFrame, k: int = 5) -> DataFrame:
    from .perdoc import per_doc_rows
    return per_doc_rows(
        docs, _yake_lite_doc(k),
        "doc_id long, rank int, term string, tf long, weight double")


def yake_lite_sql(k: int = 5) -> str:
    return f"""WITH {duckdb_toks_cte()},
per_word AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         median(pos) AS med_pos, min(pos) AS min_pos, max(pos) AS max_pos
  FROM toks GROUP BY doc_id, term),
per_doc AS (
  SELECT doc_id, avg(tf) AS mean_tf,
         coalesce(stddev(tf), 0.0) AS std_tf,
         sum(tf)::BIGINT AS doc_len
  FROM per_word GROUP BY doc_id),
weighted AS (
  SELECT w.doc_id, w.term, w.tf,
         round( ln(ln(3.0 + w.med_pos))
                / ( w.tf / (d.mean_tf + d.std_tf)
                    + (w.max_pos - w.min_pos + 1.0) / d.doc_len ), 6) AS weight
  FROM per_word w JOIN per_doc d USING (doc_id)),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY weight ASC, term ASC) AS INTEGER) AS rank
  FROM weighted)
SELECT doc_id, rank, term, tf, weight FROM ranked WHERE rank <= {k}"""


# ===================================================================
# Full YAKE (yake_full): all five features of the reference —
# CASING, POSITION, FREQUENCY, RELATEDNESS (context windows, W1),
# DIFFERENT (sentence frequency) — plus the differentiated in-candidate
# stopword weighting and the Levenshtein redundancy pass of
# get_n_best (pke/unsupervised/statistical/yake.py:116-464, T2, P5).
#
# YAKE needs casing and sentence structure, which the code tokenizer
# erases; yake_full therefore reads the RAW text per document with a
# lightweight sentence/word reader ([.!?]+whitespace sentence split,
# [A-Za-z0-9-] word runs keeping original case) — the documented
# adaptation of the spaCy reader (pke/readers.py:60-116). Each
# document is independent, so the operator is a shuffle-free
# mapInPandas; per-doc work is the reference's own O(doc) algorithm.
#
# Not SQL-expressible (context blocks + greedy Levenshtein) ->
# rows-only driver check; golden parity against a transcription-style
# driver mirror of the reference loops lives in tests/test_yake_full.py.
# ===================================================================

YAKE_WINDOW = 2
YAKE_THRESHOLD = 0.8
_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_WORD = re.compile(r"[A-Za-z0-9][A-Za-z0-9\-]*")


def levenshtein(a: str, b: str, cap: int | None = None) -> int:
    """Classic DP edit distance (P5; nltk.edit_distance analog).

    ``cap``: early-abort bound — when every cell of a DP row reaches
    ``cap`` the true distance is >= cap and ``cap`` is returned. The
    redundancy test below is monotonically FALSE for every distance
    >= its cap, so capped and exact distances decide identically
    (bit-exact goldens; equivalence pinned in tests/test_yake_full.py).
    """
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    if cap is not None and abs(len(a) - len(b)) >= cap:
        return cap  # length difference is a lower bound on distance
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        append = cur.append
        for j, cb in enumerate(b, 1):
            append(min(prev[j] + 1, cur[j - 1] + 1,
                       prev[j - 1] + (ca != cb)))
        if cap is not None and min(cur) >= cap:
            return cap
        prev = cur
    return prev[-1]


def _dedup_cap(maxlen: int, threshold: float) -> int:
    """Smallest distance d where ``1 - d/maxlen > threshold`` is False
    — evaluated in the exact float form the redundancy test uses, so
    capping the DP at it can never flip a decision."""
    for d in range(maxlen + 1):
        if not (1.0 - d / maxlen > threshold):
            return d
    return maxlen + 1


def yake_sentences(text: str) -> list[list[str]]:
    """Raw text -> sentences of case-preserving surface words."""
    out = []
    for s in _SENT_SPLIT.split(text or ""):
        ws = _WORD.findall(s)
        if ws:
            out.append(ws)
    return out


def yake_doc(sentences: list[list[str]], stopset: set, k: int,
             window: int = YAKE_WINDOW, n: int = 3,
             threshold: float = YAKE_THRESHOLD) -> list[tuple[str, float]]:
    """One document through the full YAKE pipeline; returns the
    ascending-weight top-k after Levenshtein redundancy removal.
    Deterministic tie-break (weight, candidate) replaces pke's
    insertion-order stable sort (SURVEY W4)."""
    # ---- vocabulary (yake.py:116-140): index -> {(offset, shift,
    # sent_id, surface)} ----
    words: dict[str, set] = {}
    shift = 0
    for i, sent in enumerate(sentences):
        for j, w in enumerate(sent):
            words.setdefault(w.lower(), set()).add((shift + j, shift, i, w))
        shift += len(sent)
    if not words:
        return []

    # ---- contexts (yake.py:142-186): block resets at OOV words ----
    contexts: dict[str, tuple[list, list]] = {w: ([], []) for w in words}
    for sent in sentences:
        block: list[str] = []
        for surface in sent:
            w = surface.lower()
            if w not in words:
                block = []
                continue
            ctx = block[max(0, len(block) - window):]
            contexts[w][0].extend(ctx)
            for b in ctx:
                contexts[b][1].append(w)
            block.append(w)

    # ---- word features (yake.py:229-305) ----
    import numpy as np
    tf_map = {w: len(occ) for w, occ in words.items()}
    tf_nsw = [tf for w, tf in tf_map.items() if w not in stopset]
    if not tf_nsw:  # guard: all-stopword doc (pke would NaN here)
        tf_nsw = list(tf_map.values())
    mean_tf = float(np.mean(tf_nsw))
    std_tf = float(np.std(tf_nsw))
    max_tf = float(max(tf_map.values()))
    weight_of: dict[str, float] = {}
    isstop: dict[str, bool] = {}
    for w, occ in words.items():
        tf = tf_map[w]
        isstop[w] = w in stopset or len(w) < 3
        tf_a = tf_u = 0
        for off, sh, sid, surface in occ:
            if surface.isupper() and len(w) > 1:
                tf_a += 1
            elif surface[0].isupper() and off != sh:
                tf_u += 1
        casing = max(tf_a, tf_u) / (1.0 + math.log(tf))
        sids = sorted({t[2] for t in occ})
        # exact np.median of ints, without numpy's per-call overhead
        # (this ran once per vocab word and dominated the profile):
        # odd n -> middle element; even n -> midpoint of the two middle
        # values, the same (a+b)/2 float np.median computes
        m = len(sids) // 2
        med = float(sids[m]) if len(sids) % 2 else \
            (sids[m - 1] + sids[m]) / 2.0
        position = math.log(math.log(3.0 + med))
        frequency = tf / (mean_tf + std_tf)
        left, right = contexts[w]
        wl = (len(set(left)) / len(left)) if left else 0.0
        wr = (len(set(right)) / len(right)) if right else 0.0
        relatedness = 1.0 + (wr + wl) * (tf / max_tf)
        different = len(sids) / len(sentences)
        weight_of[w] = (relatedness * position) / (
            casing + frequency / relatedness + different / relatedness)

    # ---- candidates: 1..n-grams per sentence (C1) + F1 + F3 ----
    cands: dict[str, list] = {}  # key -> list of surface tuples
    for sent in sentences:
        for j in range(len(sent)):
            for size in range(1, min(n, len(sent) - j) + 1):
                surf = tuple(sent[j:j + size])
                key = " ".join(t.lower() for t in surf)
                cands.setdefault(key, []).append(surf)
    alnum = re.compile(r"^[A-Za-z0-9\-]+$")
    kept: dict[str, list] = {}
    for key, forms in cands.items():
        first = [u.lower() for u in forms[0]]
        if set(first) & stopset:
            continue
        if len("".join(first)) < 3:
            continue
        if min(len(u) for u in first) < 2:
            continue
        if len(first) > 5:
            continue
        if not all(alnum.match(u) for u in first):
            continue
        # F3 edge filter (yake.py:102-114) on the first surface form
        if (forms[0][0].lower() in stopset or forms[0][-1].lower() in stopset
                or len(forms[0][0]) < 3 or len(forms[0][-1]) < 3):
            continue
        kept[key] = forms

    # ---- candidate weighting, surface path with differentiated
    # stopword handling (yake.py:330-372) ----
    from collections import Counter
    weights: dict[str, float] = {}
    for key, forms in kept.items():
        lowercase_forms = [" ".join(t).lower() for t in forms]
        form_counts = Counter(lowercase_forms)  # O(f) not O(f^2)
        for i, cand in enumerate(lowercase_forms):
            tf_c = form_counts[cand]
            tokens = [t.lower() for t in forms[i]]
            prod_, sum_ = 1.0, 0.0
            for j, token in enumerate(tokens):
                if isstop[token]:
                    prob_t1 = prob_t2 = 0.0
                    if j - 1 >= 0:
                        left_t = tokens[j - 1]
                        prob_t1 = (contexts[left_t][1].count(token)
                                   / tf_map[left_t])
                    if j + 1 < len(tokens):
                        right_t = tokens[j + 1]
                        prob_t2 = (contexts[token][0].count(right_t)
                                   / tf_map[right_t])
                    prob = prob_t1 * prob_t2
                    prod_ *= 1.0 + (1.0 - prob)
                    sum_ -= 1.0 - prob
                else:
                    prod_ *= weight_of[token]
                    sum_ += weight_of[token]
            if sum_ == -1.0:
                sum_ = -0.99999999999
            weights[cand] = prod_ / (tf_c * (1.0 + sum_))

    # ---- ascending top-k + Levenshtein redundancy (yake.py:382-464) ----
    best = sorted(weights, key=lambda c: (weights[c], c))
    sel: list[str] = []
    for c in best:
        if any(1.0 - levenshtein(c, p, _dedup_cap(max(len(c), len(p)),
                                                  threshold))
               / max(len(c), len(p)) > threshold
               for p in sel):
            continue
        sel.append(c)
        if len(sel) >= k:
            break
    return [(c, round(weights[c], 6)) for c in sel]


def yake_full(docs: DataFrame, k: int = 5,
              stoplist: tuple[str, ...] = TEXT_STOPWORDS,
              window: int = YAKE_WINDOW) -> DataFrame:
    """(doc_id, rank, candidate, weight) — full YAKE per document,
    shuffle-free (mapInPandas over the documents scan; docs are
    independent, no groupBy needed)."""
    stopset = set(stoplist)

    def fn(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                top = yake_doc(yake_sentences(r.text), stopset, k, window)
                rows += [(int(r.doc_id), i + 1, c, w)
                         for i, (c, w) in enumerate(top)]
            yield pd.DataFrame(
                rows, columns=["doc_id", "rank", "candidate", "weight"])

    # spread_docs: the Python per-doc work must spread across cores even
    # when the input scan has few splits (a sub-4MB parquet file packs
    # into ONE split under the openCost rule, which serialized this
    # whole pass at ~9s; pinned explicit partitioning runs it in ~1.5s)
    from .perdoc import spread_docs
    return spread_docs(docs).mapInPandas(
        fn, "doc_id long, rank int, candidate string, weight double")
