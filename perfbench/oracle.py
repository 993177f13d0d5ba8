"""Checks of the engine's outputs against computations made apart from it.

* ``PandasOracle`` (the repo's loop-and-dict reference scorer) ingests the
  same staged pages and fits BM25 itself; query results and fit statistics
  are compared with it.
* ``FrozenFitOracle`` extends a fitted oracle with appended pages the way
  ``stream_build_segments`` specifies: the base fit's idf, term ids and
  avgdl stay frozen, appended chunks are encoded with them, and terms that
  are not in the base dictionary drop out.

Every comparison returns True/False; the caller counts a False as one failed
operation and carries on.
"""

from __future__ import annotations

import math
from collections import Counter

import pyarrow.parquet as pq

from splade_spark.oracle.pandas_oracle import PandasOracle

SCORE_TOL = 1e-6


def read_pages(path: str) -> list[tuple[str, bytes]]:
    """(url, html) of every staged page, in url order."""
    t = pq.read_table(path, columns=["url", "html"])
    return sorted(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def fit_oracle(pages: list[tuple[str, bytes]]) -> PandasOracle:
    o = PandasOracle()
    for url, html in pages:
        o.add_page(url, html=html)
    o.fit()
    return o


class FrozenFitOracle:
    """A fitted oracle plus pages appended under the frozen base fit."""

    def __init__(self, base: PandasOracle, pages: list[tuple[str, bytes]]):
        self.base = base
        staging = PandasOracle(base.cfg)
        for url, html in pages:
            staging.add_page(url, html=html)
        k1, b, avgdl = base.cfg.k1, base.cfg.b, base.avgdl
        self.extra: dict[str, dict[int, float]] = {}
        self.n_postings = 0
        for did, toks in staging.docs.items():
            dl = len(toks)
            for t, tf in Counter(toks).items():
                if t in base.idf:
                    w = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                    self.extra.setdefault(t, {})[did] = w
                    self.n_postings += 1

    def topk(self, text: str, k: int) -> list[tuple[int, float]]:
        weights = self.base.encode_query(text)
        scores: dict[int, float] = {}
        for t in sorted(weights, key=lambda t: self.base.term_id[t]):
            qw = weights[t]
            for lists in (self.base.impacts, self.extra):
                for did, imp in lists.get(t, {}).items():
                    scores[did] = scores.get(did, 0.0) + qw * imp
        ranked = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))
        return ranked[:k]


def same_hits(got, want) -> bool:
    """Same docIDs in the same order, every score within 1e-6."""
    if len(got) != len(want):
        return False
    return all(
        gd == wd and abs(gs - ws) <= SCORE_TOL for (gd, gs), (wd, ws) in zip(got, want)
    )


def check_fit(oracle: PandasOracle, stats_row, dictionary_rows, n_postings: int) -> list[bool]:
    """n_docs, avgdl, (term_id, df, idf) per term and Σ postings vs the oracle."""
    dict_ok = len(dictionary_rows) == len(oracle.df)
    for r in dictionary_rows:
        t = r["term"]
        if not dict_ok:
            break
        dict_ok = (
            t in oracle.df
            and r["df"] == oracle.df[t]
            and r["term_id"] == oracle.term_id[t]
            and math.isclose(r["idf"], oracle.idf[t], rel_tol=1e-9, abs_tol=1e-12)
        )
    return [
        int(stats_row["n_docs"]) == oracle.n_docs,
        math.isclose(float(stats_row["avgdl"]), oracle.avgdl, rel_tol=1e-12),
        dict_ok,
        n_postings == sum(oracle.df.values()),
    ]
