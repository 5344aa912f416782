"""Exact oracles and answer checks.

The oracles (numpy / pandas, no Spark) run in the preparation process
(``prepare.py``) and turn the generated inputs into compact expected
answers; the checks run in the benchmark process against those answers.
Every check returns ``None`` when the answer is right and a short
reason string when it is wrong; the workload loop counts a wrong answer
as a failed operation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

K1, B = 1.2, 0.75  # the engine's BM25 defaults (postings.DEFAULT_K1/B)
SCORE_TOL = 2e-6  # scores are rounded to 6 dp on both sides
DISTINCT_REL_TOL = 0.02  # BASELINE: HLL distinct-count error <= 2% vs exact
MAX_EXPANSIONS = 50  # prefix.DEFAULT_MAX_EXPANSIONS (Lucene's default)
HOUR, MINUTE = 3600, 60


class Bm25Oracle:
    """Exact BM25 top-k over a token corpus: document ``i`` has id
    ``doc_ids[i]`` and tokens ``tokens[i]`` (a list of lists or an
    Arrow list array)."""

    def __init__(self, doc_ids: np.ndarray, tokens):
        tokens = pa.array(tokens, type=pa.list_(pa.string())) if isinstance(tokens, list) else tokens
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        n = len(self.doc_ids)
        self._off = tokens.offsets.to_numpy()
        self._flat = tokens.flatten().to_numpy(zero_copy_only=False)
        self.dl = np.diff(self._off).astype(np.float64)
        self.n_docs, self.avgdl = n, float(self.dl.mean())
        self._doc_of = np.repeat(np.arange(n), np.diff(self._off))
        codes, vocab = pd.factorize(self._flat, sort=True)
        self._codes = codes.astype(np.int64)
        self.vocab = np.asarray(vocab, dtype=object)
        pair = self._codes * n + self._doc_of
        uniq, tf = np.unique(pair, return_counts=True)
        term_of, self._doc = np.divmod(uniq, n)
        self._tf = tf.astype(np.float64)
        self._start = np.searchsorted(term_of, np.arange(len(self.vocab) + 1))
        self._code = {t: i for i, t in enumerate(self.vocab)}

    def warm_set(self, n: int) -> set[str]:
        """The ``n`` terms ``warm_index`` caches: highest df first, ties
        in term order."""
        df = np.diff(self._start)
        order = np.lexsort((np.arange(df.size), -df))  # vocab is in term order
        return set(self.vocab[order[:n]].tolist())

    def doc_tokens(self, i: int) -> list[str]:
        return self._flat[self._off[i] : self._off[i + 1]].tolist()

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        c = self._code.get(term)
        if c is None:
            return np.empty(0, np.int64), np.empty(0)
        s, e = self._start[c], self._start[c + 1]
        return self._doc[s:e], self._tf[s:e]

    def n_postings(self, first_docs: int | None = None) -> int:
        """Sum of document frequencies over the vocabulary, counting only
        the first ``first_docs`` documents when given."""
        if first_docs is None:
            return int(self._doc.size)
        return int((self._doc < first_docs).sum())

    def _scores(self, terms) -> tuple[np.ndarray, np.ndarray]:
        scores = np.zeros(self.n_docs)
        matched = np.zeros(self.n_docs, dtype=np.int64)
        for t in sorted(set(terms)):
            docs, tf = self.postings(t)
            if docs.size == 0:
                continue
            idf = math.log(1.0 + (self.n_docs - docs.size + 0.5) / (docs.size + 0.5))
            norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl))
            scores[docs] += idf * norm
            matched[docs] += 1
        return np.round(scores, 6), matched

    def _top(self, scores: np.ndarray, cand: np.ndarray, k: int) -> list[tuple[int, float]]:
        idx = np.flatnonzero(cand)
        order = np.lexsort((self.doc_ids[idx], -scores[idx]))[:k]
        return [(int(self.doc_ids[i]), float(scores[i])) for i in idx[order]]

    def topk(self, terms, k: int, msm: int = 1):
        scores, matched = self._scores(terms)
        cand = matched >= max(msm, 1)
        return self._top(scores, cand, k), dict(zip(self.doc_ids[cand].tolist(), scores[cand].tolist()))

    def phrase_topk(self, phrase: list[str], k: int):
        scores, _ = self._scores(phrase)
        m, n = len(phrase), self._codes.size
        codes = [self._code.get(t, -1) for t in phrase]
        at = np.ones(max(n - m + 1, 0), dtype=bool)
        for j, c in enumerate(codes):  # positions where the phrase starts
            at &= (self._codes[j : n - m + 1 + j] == c) & (self._doc_of[j : n - m + 1 + j] == self._doc_of[: n - m + 1])
        cand = np.zeros(self.n_docs, dtype=bool)
        cand[self._doc_of[: n - m + 1][at]] = True
        return self._top(scores, cand, k), dict(zip(self.doc_ids[cand].tolist(), scores[cand].tolist()))

    def prefix_terms(self, prefix: str) -> list[str]:
        lo = np.searchsorted(self.vocab, prefix)
        out = []
        for t in self.vocab[lo : lo + MAX_EXPANSIONS]:
            if not t.startswith(prefix):
                break
            out.append(t)
        return out


def expect_topk(answer) -> dict:
    """Compact form of an oracle top-k for the checks: the top-k, and the
    oracle score of every document that may stand in it (scores tied
    with the k-th or better)."""
    top, scores = answer
    floor = top[-1][1] - SCORE_TOL if top else math.inf
    return {"top": top, "scores": [[d, s] for d, s in scores.items() if s >= floor]}


def check_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], scores: dict) -> str | None:
    """``got`` must be a correct top-k: same length and scores as the
    oracle's, every returned doc scored as the oracle scores it
    (``scores``: doc -> oracle score), and ordered by (score desc,
    doc_id asc).  Docs may differ only where the oracle's scores tie."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    for (gd, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"score {gs} where the oracle ranks {ws}"
        if gd not in scores or abs(scores[gd] - gs) > SCORE_TOL:
            return f"doc {gd} scored {gs}, oracle {scores.get(gd)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc in hits"
    keys = [(-s, d) for d, s in got]
    if keys != sorted(keys):
        return "hits not ordered by (score desc, doc_id)"
    return None


# -- facets ---------------------------------------------------------------


def epoch_s(col: pd.Series) -> np.ndarray:
    """Whole seconds since the epoch, for naive (UTC) or aware stamps of any unit."""
    t = pd.to_datetime(col, utc=True)
    return ((t - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(seconds=1)).to_numpy(dtype=np.int64)


def _buckets(events: pd.DataFrame, bucket_s: int) -> pd.DataFrame:
    return events.assign(time=events["ts_s"].to_numpy() // bucket_s * bucket_s)


def facet_expectations(events: pd.DataFrame) -> dict:
    """Every expected facet answer, from the events table (``ts_s``,
    ``user``, ``slice``, ``tokens``), as JSON-ready lists."""

    def distinct(bucket_s: int) -> list:
        g = _buckets(events, bucket_s).groupby("time")["user"]
        return [[int(t), int(c), int(d)] for t, c, d in zip(g.size().index, g.size(), g.nunique())]

    sliced = _buckets(events, HOUR).groupby(["time", "slice"]).size()
    per_doc = events["tokens"].map(lambda ts: sorted(set(ts)))
    counts = pd.Series([t for ts in per_doc for t in ts]).value_counts()
    return {
        "distinct_hour": distinct(HOUR),
        "distinct_minute": distinct(MINUTE),
        "sliced": [[int(t), s, int(c)] for (t, s), c in sliced.items()],
        "terms": {
            "counts": {t: int(c) for t, c in counts.items()},
            "total": int(counts.sum()),
            "missing": int((per_doc.map(len) == 0).sum()),
        },
        "term_set": sorted(counts.index),
    }


def check_distinct(rows: pd.DataFrame, want: list, mode: str) -> tuple[str | None, dict]:
    """Date facet with a distinct field against ``want`` rows (time,
    count, distinct).  ``mode``: ``hybrid`` (exact unless tipped),
    ``approx`` (every bucket within 2%) or ``exact`` (every bucket
    exact)."""
    want = pd.DataFrame(want, columns=["time", "count", "distinct"]).set_index("time")
    got = rows.assign(time=epoch_s(rows["time"])).set_index("time").sort_index()
    stats = {"buckets": len(got), "tipped": 0, "max_rel_err": 0.0}
    if not got.index.equals(want.index):
        return f"buckets differ: {len(got)} vs {len(want)} expected", stats
    if not (got["count"].to_numpy() == want["count"].to_numpy()).all():
        return "bucket counts differ from pandas", stats
    d, e = got["distinct_count"].to_numpy(), want["distinct"].to_numpy()
    rel = np.abs(d - e) / np.maximum(e, 1)
    tipped = got["tipped"].to_numpy(dtype=bool) if "tipped" in got else np.zeros(len(got), bool)
    stats["tipped"] = int(tipped.sum())
    approx = tipped if mode == "hybrid" else np.full(len(got), mode == "approx")
    if approx.any():
        stats["max_rel_err"] = float(rel[approx].max())
    if (d[~approx] != e[~approx]).any():
        return "exact distinct counts differ from pandas", stats
    if (rel[approx] > DISTINCT_REL_TOL).any():
        return f"distinct error {rel[approx].max():.4f} above {DISTINCT_REL_TOL}", stats
    return None, stats


def check_sliced(rows: pd.DataFrame, want: list) -> str | None:
    want = pd.DataFrame(want, columns=["time", "term", "count"]).set_index(["time", "term"])["count"]
    got = rows.assign(time=epoch_s(rows["time"])).set_index(["time", "term"])["count"].sort_index()
    if len(got) != len(want) or not (got.index == want.index).all():
        return f"sliced buckets differ: {len(got)} vs {len(want)} expected"
    if not (got.to_numpy() == want.to_numpy()).all():
        return "sliced counts differ from pandas"
    return None


def check_term_list(terms: list[str], truth: set[str], cap: int) -> str | None:
    if len(set(terms)) != len(terms):
        return "duplicate terms in term_list"
    if not set(terms) <= truth:
        return "term_list returned terms absent from the input"
    if len(terms) < min(cap, len(truth)):
        return f"term_list returned {len(terms)} terms, cap {cap} of {len(truth)}"
    return None


def check_terms_facet(rows: pd.DataFrame, want: dict, size: int) -> str | None:
    counts, total, missing = want["counts"], want["total"], want["missing"]
    if len(rows) != min(size, len(counts)):
        return f"terms facet returned {len(rows)} entries"
    for term, c in zip(rows["term"], rows["count"]):
        if counts.get(term) != c:
            return f"terms facet count {c} for {term!r}, pandas {counts.get(term)}"
    top = sorted(counts.values(), reverse=True)[: len(rows)]
    if sorted(rows["count"], reverse=True) != top:
        return "terms facet entries are not the top counts"
    if list(rows["count"]) != sorted(rows["count"], reverse=True):
        return "terms facet entries not ordered by count"
    if (rows["total"] != total).any() or (rows["missing"] != missing).any():
        return "terms facet total/missing differ from pandas"
    if (rows["other"] != total - int(rows["count"].sum())).any():
        return "terms facet other differs from pandas"
    return None
