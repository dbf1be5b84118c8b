"""Seeded query stream for the serving and churn workloads.

The stream mixes the reference query set with generated AND-queries of 1-4
terms. Generated queries are built from one anchor document each, so the
intersection is never empty by construction, and they vary the properties
search latency depends on:

- terms are stratified by document-frequency band (rare / mid / common,
  equal widths on a log-df scale), round-robin from a random first band;
- ``HEAD_SHARE`` of queries add a head (stopword) term, which analysis must
  prune;
- ``SITE_SHARE`` carry a site filter (the anchor's site);
- ``PAGE_SHARE`` ask for a later page (offset 10 or 20);
- queries are drawn Zipf-repeating (``ZIPF_S``) from the pool, so some work
  repeats and a read-side cache has something to reuse.

Only queries that pass the reference's validation are kept: an empty or
non-Russian query is answered before the index is touched, and its
microsecond latency would say nothing about the engine.
"""

from __future__ import annotations

import bisect
import math
import random

HEAD_SHARE = 0.2
SITE_SHARE = 0.1
PAGE_SHARE = 0.15
ZIPF_S = 0.4
POOL_SIZE = 240
N_TERMS_WEIGHTS = (0.35, 0.35, 0.2, 0.1)  # P(1..4 terms)
BANDS = ("rare", "mid", "common")


def df_bands(idx, head: set[str]) -> dict[str, list[str]]:
    """Non-head terms split into three equal-width log-df bands."""
    terms = sorted(t for t in idx.df if t not in head)
    lo = math.log(min(idx.df[t] for t in terms))
    hi = math.log(max(idx.df[t] for t in terms))
    width = (hi - lo) / len(BANDS) or 1.0
    out: dict[str, list[str]] = {b: [] for b in BANDS}
    for t in terms:
        band = min(len(BANDS) - 1, int((math.log(idx.df[t]) - lo) / width))
        out[BANDS[band]].append(t)
    return out


def _doc_terms(idx) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for term in sorted(idx.postings):
        for d in idx.postings[term]:
            out.setdefault(d, []).append(term)
    return out


def generated_queries(idx, head: list[str], seed: int,
                      n: int = POOL_SIZE) -> list[dict]:
    rng = random.Random(f"querygen:{seed}")
    band_of = {t: b for b, ts in df_bands(idx, set(head)).items() for t in ts}
    doc_terms = _doc_terms(idx)
    anchors = sorted(d for d, ts in doc_terms.items()
                     if sum(t in band_of for t in ts) >= 4)
    out: list[dict] = []
    while len(out) < n:
        doc = rng.choice(anchors)
        by_band = {b: [t for t in doc_terms[doc] if band_of.get(t) == b]
                   for b in BANDS}
        k = rng.choices(range(1, 5), weights=N_TERMS_WEIGHTS)[0]
        first = rng.randrange(len(BANDS))
        picked: list[str] = []
        for i in range(k * len(BANDS)):
            if len(picked) == k:
                break
            pool = [t for t in by_band[BANDS[(first + i) % len(BANDS)]]
                    if t not in picked]
            if pool:
                picked.append(rng.choice(pool))
        if rng.random() < HEAD_SHARE:
            picked.insert(rng.randrange(len(picked) + 1), rng.choice(head))
        site = (idx.docs[doc]["site"] if rng.random() < SITE_SHARE else None)
        offset = rng.choice((10, 20)) if rng.random() < PAGE_SHARE else 0
        out.append({"query": " ".join(picked), "site": site, "k": 10,
                    "offset": offset})
    return out


def query_pool(idx, head: list[str], seed: int) -> list[dict]:
    """Reference queries that reach the index, plus generated ones, in a
    seeded order (the order sets each query's Zipf rank)."""
    from searchengine_spark.functions.text_core import is_query_valid
    from searchengine_spark.sources.queryset import reference_queries

    ref = [{k: q[k] for k in ("query", "site", "k", "offset")}
           for q in reference_queries()
           if q["query"] and is_query_valid(q["query"])]
    pool = ref + generated_queries(idx, head, seed)
    random.Random(f"pool:{seed}").shuffle(pool)
    return pool


def stream(pool: list[dict], seed: int):
    """Endless Zipf-repeating draws from ``pool``."""
    rng = random.Random(f"stream:{seed}")
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(pool))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    while True:
        yield pool[min(len(pool) - 1, bisect.bisect_left(cum, rng.random() * acc))]
