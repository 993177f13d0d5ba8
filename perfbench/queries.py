"""Seeded query generator.

Each generated query takes 2–5 words from the surface token stream (the
frozen analyzer without stemming) of one seeded-random chunk, so a term is
drawn in proportion to how often it occurs in the corpus. On the
frozen-vocabulary corpora the frozen 50-query set is added, suffixed with
``expand_query_text`` so it hits the expanded vocabulary; on the salted
corpus every word carries a hash tail and the frozen set would match nothing.
"""

from __future__ import annotations

import numpy as np

from splade_spark.config import AnalyzerConfig

SURFACE = AnalyzerConfig(stem=False)


def make_queries(seed: int, chunk_texts: dict[int, str], n_sampled: int,
                 frozen: bool, expand: int) -> list[tuple[int, str]]:
    """→ [(query_id, text)]: the frozen set (if asked) then ``n_sampled`` drawn queries."""
    from splade_spark.fixtures import FROZEN_QUERIES
    from splade_spark.sources.web_pages import expand_query_text
    from splade_spark.text.analyzer import analyze_text

    texts: list[str] = []
    if frozen:
        texts += [expand_query_text(t, qid % expand) for qid, t in FROZEN_QUERIES]
    rng = np.random.default_rng([seed, 7])
    doc_ids = sorted(chunk_texts)
    while len(texts) < (len(FROZEN_QUERIES) if frozen else 0) + n_sampled:
        toks = analyze_text(chunk_texts[doc_ids[rng.integers(len(doc_ids))]], SURFACE)
        if len(toks) < 2:
            continue
        n = int(rng.integers(2, 6))
        texts.append(" ".join(toks[i] for i in rng.integers(0, len(toks), size=n)))
    return list(enumerate(texts))
