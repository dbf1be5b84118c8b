"""Storage format of the index tables (sources/tableio.py): every writer
produces zstd Parquet, and an index whose older files carry another codec
serves and upserts unchanged — Parquet records the codec per column chunk,
so a codec change needs no layout version.

Both tests work on a copy of the session-scoped built_engine index, so the
fixture stays untouched and no second full build runs."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from searchengine_spark import oracle as O

TABLES = ("docs", "postings", "terms", "site_stats", "blocks")
N = 300  # conftest.N_FIXTURE_DOCS: the built_engine corpus


def _copy_engine(built_engine, tmp_path):
    from searchengine_spark.plans.api import SearchEngine

    work = str(tmp_path / "work")
    shutil.copytree(built_engine.io.work_dir, work)
    return SearchEngine(built_engine.spark, work)


def _parquet_files(io, table):
    return sorted(os.path.join(root, fn)
                  for root, _, fs in os.walk(io.path(table))
                  for fn in fs if fn.endswith(".parquet"))


def _codecs(path):
    md = pq.ParquetFile(path).metadata
    return {md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)}


def _pages_df(spark, pages):
    return spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_every_index_write_is_zstd(built_engine, tmp_path):
    """Build (the fixture), upsert, page removal and block refresh each
    write through the one Parquet writer: every column chunk of every
    index file is ZSTD afterwards."""
    from searchengine_spark.sources.corpus import gen_pages_local

    eng = _copy_engine(built_engine, tmp_path)
    pages = gen_pages_local(N + 1)
    base, fresh = pages[:N], pages[N]
    eng.upsert_docs(_pages_df(eng.spark, [
        dict(base[5], html=base[50]["html"], text=base[50]["text"]),
        fresh]))
    eng.remove_page(base[17]["url"])
    eng.refresh_blocks()

    for table in TABLES:
        files = _parquet_files(eng.io, table)
        assert files, table
        for fp in files:
            assert _codecs(fp) == {"ZSTD"}, fp


def _rewrite_snappy(path):
    """Rewrite one Parquet file in place as snappy, keeping its row groups
    and its footer key-value metadata (Spark's row schema)."""
    src = pq.ParquetFile(path)
    kv = src.metadata.metadata
    tmp = path + ".snappy-tmp"
    with pq.ParquetWriter(tmp, src.schema_arrow,
                          compression="snappy") as w:
        for g in range(src.num_row_groups):
            w.write_table(src.read_row_group(g))
    os.replace(tmp, path)
    # Hadoop's local file system checks a sibling .crc on read; it now
    # describes the old bytes
    d, fn = os.path.split(path)
    os.remove(os.path.join(d, f".{fn}.crc"))
    assert _codecs(path) == {"SNAPPY"}
    assert kv.items() <= pq.ParquetFile(path).metadata.metadata.items()


def _assert_same(got, want, with_count=True):
    assert got["result"] == want["result"]
    if with_count:
        assert got["count"] == want["count"]
    assert len(got["data"]) == len(want["data"])
    for g, w in zip(got["data"], want["data"]):
        assert g["doc_id"] == w["doc_id"]
        assert g["uri"] == w["uri"] and g["title"] == w["title"]
        assert g["score"] == pytest.approx(w["score"], abs=1e-6)
        if "snippet" in g:
            assert g["snippet"] == w["snippet"]


def _assert_strategies_match_oracle(eng, idx, queries):
    for q in queries:
        want = O.search(idx, q, limit=10)
        assert want["result"], q
        _assert_same(eng.search(q, limit=10, strategy="driver"), want)
        _assert_same(eng.search(q, limit=10, strategy="exact"), want)
        _assert_same(eng.search(q, limit=10, strategy="wand",
                                count_mode="none"), want, with_count=False)


def test_mixed_codec_index_serves_and_upserts(built_engine, tmp_path):
    """One docs bucket and one term bucket of postings and blocks are
    rewritten as snappy; the other files stay zstd. Driver, exact and WAND
    answers equal the oracle before and after an upsert into that index,
    and the snappy files the upsert does not rewrite stay in place."""
    from searchengine_spark.plans.wand import term_bucket_col_val
    from searchengine_spark.sources.corpus import gen_pages_local
    from searchengine_spark.sources.tableio import resolve_layout

    eng = _copy_engine(built_engine, tmp_path)
    io = eng.io
    n_buckets = resolve_layout(io, eng.cfg).term_buckets
    base = gen_pages_local(N)
    victim, donor = base[5], base[50]

    # a term bucket the upsert leaves alone: neither the victim's old
    # lemmas nor its new ones hash there
    touched = {term_bucket_col_val(t, n_buckets)
               for p in (victim, donor)
               for t in O.split_to_lemmas(p["text"])}
    idx = O.build_index(base)
    candidates = sorted(
        t for t, df in idx.df.items()
        if 2 <= df <= 20 and term_bucket_col_val(t, n_buckets) not in touched
        and O.split_to_lemmas(t) == {t: 1})
    bucket = term_bucket_col_val(candidates[0], n_buckets)
    queries = [t for t in candidates
               if term_bucket_col_val(t, n_buckets) == bucket][:2]

    # a docs bucket holding a hit of the first query, but not the victim
    hit_urls = {h["uri"] for h in O.search(idx, queries[0],
                                           limit=10)["data"]}
    docs_urls = {}
    for fp in _parquet_files(io, "docs"):
        docs_urls.setdefault(os.path.dirname(fp), set()).update(
            pq.read_table(fp, columns=["url"])["url"].to_pylist())
    docs_dir = next(d for d, urls in sorted(docs_urls.items())
                    if urls & hit_urls and victim["url"] not in urls)
    term_dirs = {os.path.join(io.path(t), f"term_bucket={bucket}")
                 for t in ("postings", "blocks")}
    snappy = [fp for t in ("docs", "postings", "blocks")
              for fp in _parquet_files(io, t)
              if os.path.dirname(fp) in term_dirs | {docs_dir}]
    assert {os.path.basename(os.path.dirname(os.path.dirname(fp)))
            for fp in snappy} == {"docs", "postings", "blocks"}
    for fp in snappy:
        _rewrite_snappy(fp)

    _assert_strategies_match_oracle(eng, idx, queries)

    eng.upsert_docs(_pages_df(eng.spark, [
        dict(victim, html=donor["html"], text=donor["text"])]))
    edited = [dict(victim, html=donor["html"], text=donor["text"])
              if p["url"] == victim["url"] else p for p in base]
    _assert_strategies_match_oracle(eng, O.build_index(edited), queries)
    for fp in snappy:
        assert _codecs(fp) == {"SNAPPY"}, fp
