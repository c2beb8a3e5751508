"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables and query streams, a different seed gives
different ones. Nothing imports Spark; the workloads lift the pandas
frames into DataFrames themselves.

The code table has the engine's input shape
``(repo, path, commit, lang, content)`` plus a ``doc_id``. Its
identifiers are built from subword tokens drawn from a Zipf
vocabulary, so term document frequency spans 1..N (the fixture corpus
in ``pke_spark.corpus`` has ~3.7k terms, 16 of them in >=93% of docs,
which makes every word query a hot-term query). Identifiers mix
camelCase and snake_case, each language has its own keywords, and file
length is heavy-tailed (lognormal line count).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ("python", "java", "js", "go")
EXT = {"python": "py", "java": "java", "js": "js", "go": "go"}
KEYWORDS = {
    "python": ("def", "return", "import", "self", "class", "if", "for",
               "none"),
    "java": ("public", "private", "static", "void", "class", "return",
             "new", "final"),
    "js": ("function", "const", "let", "return", "export", "async",
           "await", "this"),
    "go": ("func", "package", "return", "defer", "struct", "err", "nil",
           "range"),
}
_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_MASK62 = np.uint64((1 << 62) - 1)
_MULT = np.uint64(0x9E3779B97F4A7C15)

# Zipf exponent of the subword vocabulary: gives a df spectrum from
# head terms in a large share of docs down to a long df=1 tail
ZIPF_S = 1.05


def _words(rng: np.random.Generator, size: int,
           taken: frozenset = frozenset()) -> list[str]:
    """``size`` distinct lowercase alphabetic words of 2-4 syllables, so
    the code tokenizer keeps each one whole."""
    syl = [c + v for c in _CONS for v in _VOWS]
    out: list[str] = []
    seen = set(taken)
    while len(out) < size:
        m = 2 * (size - len(out)) + 16
        lens = rng.integers(2, 5, m).tolist()
        mat = rng.integers(0, len(syl), (m, 4)).tolist()
        for row, n in zip(mat, lens):
            w = "".join(syl[j] for j in row[:n])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == size:
                    break
    return out


def _zipf_cdf(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return np.cumsum(p / p.sum())


def doc_ids(seed: int, keys) -> np.ndarray:
    """Distinct positive int64 doc ids for distinct uint64 ``keys``
    (odd-multiplier bijection salted by the seed, folded to 62 bits)."""
    k = np.asarray(keys, dtype=np.uint64)
    salt = np.uint64((seed * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        x = (k * _MULT + salt) & _MASK62
    return x.astype(np.int64)


class CodeCorpus:
    """A seeded code table and the df spectrum its query streams use.

    ``files(idx, rev)`` renders files ``idx`` at revision ``rev``. Each
    version carries the token ``v<idx>r<rev>`` (one token under the code
    tokenizer), so a reader can tell which version it serves, and each
    version has its own doc id.
    """

    def __init__(self, seed: int, vocab_size: int = 20_000,
                 median_lines: int = 4):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        kws = frozenset(k for ks in KEYWORDS.values() for k in ks)
        self.vocab = _words(rng, vocab_size, kws)
        self.cdf = _zipf_cdf(vocab_size)
        self.median_lines = median_lines

    def _content(self, rng: np.random.Generator, lang: str, marker: str
                 ) -> tuple[str, np.ndarray]:
        kw = KEYWORDS[lang]
        n_lines = int(min(400, max(2, rng.lognormal(
            np.log(self.median_lines), 0.9))))
        n_ids = rng.integers(1, 4, n_lines)
        n_ident = int(n_ids.sum())
        parts = rng.integers(1, 4, n_ident)
        words = np.minimum(np.searchsorted(
            self.cdf, rng.random(int(parts.sum()))), len(self.vocab) - 1)
        camel = rng.random(n_ident) < 0.5
        kws = rng.integers(0, len(kw), n_lines)
        lines = [f"{kw[0]} {marker}"]
        w = ident = 0
        for ln in range(n_lines):
            ids = []
            for _ in range(int(n_ids[ln])):
                k = int(parts[ident])
                sub = [self.vocab[x] for x in words[w:w + k].tolist()]
                w += k
                ids.append(sub[0] + "".join(s.capitalize() for s in sub[1:])
                           if camel[ident] else "_".join(sub))
                ident += 1
            lines.append(f"    {kw[int(kws[ln])]} " + " = ".join(ids))
        return "\n".join(lines), np.unique(words)

    def files(self, idx, rev: int = 0) -> tuple[pd.DataFrame, np.ndarray]:
        """(rows, df) for files ``idx`` at revision ``rev``: the table
        rows and the per-vocabulary-word document frequency over them.
        Deterministic per (seed, idx, rev)."""
        idx = np.asarray(idx, dtype=np.int64)
        rng = np.random.default_rng(
            [self.seed, 1, rev, len(idx)] + idx[:4].tolist())
        rows = []
        df = np.zeros(len(self.vocab), dtype=np.int64)
        for i in idx.tolist():
            lang = LANGS[i % len(LANGS)]
            content, uniq = self._content(rng, lang, f"v{i}r{rev}")
            df[uniq] += 1
            commit = hashlib.sha1(f"{self.seed}/{i}/{rev}".encode()
                                  ).hexdigest()
            rows.append((f"org{i % 17}/proj{i % 5}",
                         f"src/m{i}.{EXT[lang]}", commit, lang, content))
        out = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                          "content"])
        keys = idx.astype(np.uint64) | (np.uint64(rev) << np.uint64(32))
        out.insert(0, "doc_id", doc_ids(self.seed, keys))
        return out, df


class QueryStream:
    """Term and query-string draws from a table's own df spectrum.

    Bands: head (df >= 2% of docs), torso (df 20 .. 2%, optionally a
    fixed subset of ``torso_size`` terms), tail (df 1..2).
    ``rare()`` never returns the same tail term twice, so each rare-id
    lookup touches a term no reader has cached.
    """

    def __init__(self, seed: int, vocab: list[str], df: np.ndarray,
                 n_docs: int, stream: int = 0,
                 torso_size: int | None = None):
        self.rng = np.random.default_rng([seed, 2, stream])
        w = np.asarray(vocab, dtype=object)
        self.head = list(w[df >= max(21, 0.02 * n_docs)])
        self.torso = list(w[(df >= 20) & (df < 0.02 * n_docs)])
        if torso_size is not None:
            # the same subset for every stream of this seed
            pick = np.random.default_rng([seed, 3]).choice(
                len(self.torso), min(torso_size, len(self.torso)),
                replace=False)
            self.torso = [self.torso[i] for i in sorted(pick.tolist())]
        tail = list(w[(df >= 1) & (df <= 2)])
        self.rng.shuffle(tail)
        self._tail = iter(tail)

    def _pick(self, band: list[str], n: int = 1) -> list[str]:
        return [band[int(i)] for i in self.rng.integers(0, len(band), n)]

    def terms(self) -> list[str]:
        """1-3 distinct terms: one head term plus torso terms."""
        n = int(self.rng.integers(1, 4))
        return sorted(set(self._pick(self.head) + self._pick(self.torso,
                                                             n - 1)))

    def rare(self) -> list[str]:
        return [next(self._tail)]

    def boolean(self) -> str:
        a, c = self._pick(self.torso, 2)
        b = self._pick(self.head)[0]
        return f"+{a} {b} -{c}" if a != c else f"+{a} {b}"

    def prefix(self) -> str:
        return self._pick(self.torso)[0][:3] + "*"

    def fuzzy(self) -> str:
        t = self._pick(self.torso)[0]
        j = int(self.rng.integers(0, len(t)))
        return t[:j] + "x" + t[j + 1:] + "~1"


# ---- documents table for the keyphrase extractors (testdata schema) --

DOC_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
STOP = ("a", "the", "of", "and", "to", "in")


class DocTable:
    """Seeded rows in the testdata ``documents`` schema
    ``(doc_id, text, lang, source, n_chars)``: English-like word salad
    over a Zipf vocabulary with stopwords between content runs, so
    candidate phrases have variable length. Doc length is heavy-tailed.
    ``rows(start, n)`` is deterministic per (seed, doc index)."""

    def __init__(self, seed: int, vocab_size: int = 400):
        self.seed = seed
        self.vocab = _words(np.random.default_rng([seed, 3]), vocab_size,
                            frozenset(STOP))
        self.cdf = _zipf_cdf(vocab_size)

    def rows(self, start: int, n: int) -> pd.DataFrame:
        out = []
        for i in range(start, start + n):
            rng = np.random.default_rng([self.seed, 4, i])
            n_words = int(min(200, max(12, rng.lognormal(np.log(45), 0.5))))
            words = np.minimum(np.searchsorted(self.cdf, rng.random(n_words)),
                               len(self.vocab) - 1)
            stop = rng.random(n_words) < 0.22
            stops = rng.integers(0, len(STOP), n_words)
            toks = [STOP[int(s)] if st else self.vocab[int(w)]
                    for w, st, s in zip(words.tolist(), stop.tolist(),
                                        stops.tolist())]
            text = " ".join(toks)
            lang = DOC_LANGS[i % len(DOC_LANGS)]
            out.append((i, text, lang, f"src{i % 20}", len(text)))
        df = pd.DataFrame(out, columns=["doc_id", "text", "lang", "source",
                                        "n_chars"])
        df["doc_id"] = df["doc_id"].astype(np.int64)
        df["n_chars"] = df["n_chars"].astype(np.int64)
        return df
