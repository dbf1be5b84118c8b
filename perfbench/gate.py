"""Correctness gate: compare engine responses with ``oracle.search``.

Three comparisons, chosen by how much of the response a call promises:

- ``full``: the whole response (result, error, count, every row with
  doc_id, uri, title, score to 1e-6 and snippet) — driver and exact.
- ``topk``: as ``full`` without the total count — WAND with
  ``count_mode="none"``.
- ``by_url``: for an index changed by deltas. Incremental maintenance keeps
  a re-indexed url's doc_id and appends new urls after the largest id, so
  ids (and with them the order of equal scores) differ from a fresh build.
  Rows must carry the oracle's score at their rank, and each row's url must
  be one the oracle ranks with that score; titles and snippets must match
  the oracle's row for that url, and every row must carry its snippet.
"""

from __future__ import annotations

SCORE_TOL = 1e-6
_ROW_KEYS = ("rank", "doc_id", "site", "site_name", "uri", "title", "snippet")


def _row_diff(exp: dict, got: dict, keys) -> str | None:
    for k in keys:
        if exp.get(k) != got.get(k):
            return f"row {exp.get('rank')}: {k} {got.get(k)!r} != {exp.get(k)!r}"
    if abs(exp["score"] - got["score"]) > SCORE_TOL:
        return f"row {exp.get('rank')}: score {got['score']} != {exp['score']}"
    return None


def _head_diff(exp: dict, got: dict, with_count: bool) -> str | None:
    if bool(got.get("result")) != bool(exp.get("result")):
        return f"result {got.get('result')} != {exp.get('result')}"
    if not exp.get("result"):
        if got.get("error") != exp.get("error"):
            return f"error {got.get('error')!r} != {exp.get('error')!r}"
        return None
    if with_count and got.get("count") != exp.get("count"):
        return f"count {got.get('count')} != {exp.get('count')}"
    if len(got.get("data", [])) != len(exp.get("data", [])):
        return f"rows {len(got.get('data', []))} != {len(exp.get('data', []))}"
    return None


def mismatch(expected: dict, got: dict, mode: str) -> str | None:
    """None when ``got`` answers like ``expected``, else a description."""
    head = _head_diff(expected, got, with_count=mode != "topk")
    if head is not None or not expected.get("result"):
        return head
    for e, g in zip(expected["data"], got["data"]):
        diff = _row_diff(e, g, _ROW_KEYS)
        if diff is not None:
            return diff
    return None


def mismatch_by_url(idx, query: str, site: str | None, limit: int,
                    offset: int, got: dict, with_count: bool = True) -> str | None:
    """Tie-aware check of ``got`` against the oracle index ``idx``: the
    oracle ranks every candidate (no snippets), then the snippet of each
    returned url is rebuilt from the oracle's copy of its text."""
    from searchengine_spark import oracle

    ranked = oracle.search(idx, query, limit=len(idx.docs), site=site,
                           with_snippets=False)
    if bool(got.get("result")) != bool(ranked.get("result")):
        return f"result {got.get('result')} != {ranked.get('result')}"
    if not ranked.get("result"):
        if got.get("error") != ranked.get("error"):
            return f"error {got.get('error')!r} != {ranked.get('error')!r}"
        return None
    if with_count and got.get("count") != ranked.get("count"):
        return f"count {got.get('count')} != {ranked.get('count')}"
    page = ranked["data"][offset:offset + limit]
    rows = got.get("data", [])
    if len(rows) != len(page):
        return f"rows {len(rows)} != {len(page)}"
    if len({r["uri"] for r in rows}) != len(rows):
        return "duplicate url in page"
    by_url = {r["uri"]: r for r in ranked["data"]}
    terms = oracle.analyze_query(idx, query)
    for exp, row in zip(page, rows):
        ref = by_url.get(row["uri"])
        if row.get("rank") != exp["rank"]:
            return f"rank {row.get('rank')} != {exp['rank']}"
        if abs(exp["score"] - row["score"]) > SCORE_TOL:
            return f"rank {exp['rank']}: score {row['score']} != {exp['score']}"
        if ref is None or abs(ref["score"] - row["score"]) > SCORE_TOL:
            return f"rank {exp['rank']}: {row['uri']} not ranked with that score"
        for k in ("site", "title"):
            if row.get(k) != ref.get(k):
                return f"rank {exp['rank']}: {k} {row.get(k)!r} != {ref.get(k)!r}"
        want = oracle.build_snippet(idx.docs[ref["doc_id"]]["text"],
                                    list(terms))
        if row.get("snippet") != want:
            return f"rank {exp['rank']}: snippet differs"
    return None
