"""Determinism/invariance gates (SURVEY §5.2 items 5):

the index and its query results must be byte-identical across input
partitioning, extract parallelism, and salting width — the property that
makes the two-cluster-size scaling claim meaningful.
"""

import hashlib

import pandas as pd
import pytest


def _corpus(n=400, dup_every=7):
    rows = []
    for i in range(n):
        url = f"https://ex.com/{i % (n - n // dup_every)}"  # some dup urls
        text = " ".join(
            f"w{(i * 31 + j * 17) % 83}" for j in range(5 + (i % 23))
        )
        rows.append((url, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                     text, "en" if i % 3 else "de"))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "text", "lang"])


def _build(spark, tmp_path, name, pdf, in_parts, **cfg_kw):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    cfg = IndexConfig(text_col="text", pk_col="url", ts_col="warc_ts",
                      attr_cols=("lang",), **cfg_kw)
    d = str(tmp_path / name)
    df = spark.createDataFrame(pdf).repartition(in_parts)
    build_index(spark, df, d, cfg)
    return d


def _docids(spark, d):
    return {
        r["pk"]: r["docid"]
        for r in spark.read.parquet(d + "/docs").select("pk", "docid").collect()
    }


def _postings_hash(spark, d):
    rows = (
        spark.read.parquet(d + "/postings")
        .select("term", "shard", "n_docs", "docs", "tfs", "dls")
        .collect()
    )
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r["term"], r["shard"])):
        h.update(r["term"].encode())
        h.update(bytes([r["shard"]]))
        h.update(bytes(r["docs"]))
        h.update(bytes(r["tfs"]))
        h.update(bytes(r["dls"]))
    return h.hexdigest()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("inv")
    pdf = _corpus()
    a = _build(spark, tmp, "a", pdf, 1, extract_partitions=2,
               num_shards=4, num_buckets=2)
    b = _build(spark, tmp, "b", pdf, 7, extract_partitions=5,
               num_shards=4, num_buckets=2)
    c = _build(spark, tmp, "c", pdf, 3, extract_partitions=3,
               num_shards=1, num_buckets=3)  # unsalted, different buckets
    return spark, a, b, c


def test_docids_invariant_to_partitioning(built):
    spark, a, b, c = built
    da, db, dc = _docids(spark, a), _docids(spark, b), _docids(spark, c)
    assert da == db == dc
    assert sorted(da.values()) == list(range(len(da)))  # dense global ranks


def test_postings_bytes_invariant_to_parallelism(built):
    """Same config, different input/extract partitioning -> identical
    encoded segment bytes."""
    spark, a, b, _ = built
    assert _postings_hash(spark, a) == _postings_hash(spark, b)


def test_salted_equals_unsalted_results(built):
    """num_shards=1 (no salt) vs 4 (salted) and different bucket count:
    identical BM25 results — salting is pure layout."""
    from search_engine_spark.query import SearchIndex

    spark, a, _, c = built
    ixa, ixc = SearchIndex(spark, a), SearchIndex(spark, c)
    for q in ["w1 w2 w3", "w40", "w7 w81", '"w1 w2"', "w3 -w5"]:
        for mode in ("exhaustive", "maxscore"):
            ra = ixa.search_list(q, k=20, mode=mode)
            rc = ixc.search_list(q, k=20, mode=mode)
            assert [(d, round(s, 9)) for d, s in ra] == [
                (d, round(s, 9)) for d, s in rc
            ], (q, mode)


def test_staging_parquet_equals_cache(spark, tmp_path_factory):
    """The stage-1 sorted run pinned as staging parquet (input size unknown
    or above stage1_cache_max_bytes) must produce byte-identical postings
    and identical docids vs the cache pin of a small file-backed input."""
    import os

    from search_engine_spark.build import _stage1_staging_dir, build_index
    from search_engine_spark.config import IndexConfig

    tmp = tmp_path_factory.mktemp("staging")
    src = str(tmp / "corpus.parquet")
    spark.createDataFrame(_corpus(300)).repartition(4).write.parquet(src)
    pages = spark.read.parquet(src)

    def build(name, **cfg_kw):
        cfg = IndexConfig(text_col="text", pk_col="url", ts_col="warc_ts",
                          attr_cols=("lang",), num_shards=2, num_buckets=2,
                          **cfg_kw)
        d = str(tmp / name)
        staged = _stage1_staging_dir(pages, cfg, d) is not None
        build_index(spark, pages, d, cfg)
        return d, staged

    a, a_staged = build("cache")
    b, b_staged = build("parquet", stage1_cache_max_bytes=0)
    assert (a_staged, b_staged) == (False, True)
    assert _docids(spark, a) == _docids(spark, b)
    assert _postings_hash(spark, a) == _postings_hash(spark, b)
    assert not os.path.exists(os.path.join(b, "_staging_sorted_run")), (
        "staging run must be cleaned up after the docs stage"
    )


def test_encode_salt_byte_identical(spark, tmp_path_factory):
    """An encode salt > 1 (term-hash subgroups bound the encode task grain,
    sized from the postings count and encode_group_postings) must produce
    byte-identical segments and identical search results vs the unsalted
    encode — a (term, shard) posting list never crosses groups, so only
    the grouping layout changes."""
    from search_engine_spark.query import SearchIndex

    tmp = tmp_path_factory.mktemp("encsalt")
    pdf = _corpus(300)
    a = _build(spark, tmp, "nosalt", pdf, 4, num_shards=2, num_buckets=2)
    b = _build(spark, tmp, "salted", pdf, 6, num_shards=2, num_buckets=2,
               encode_group_postings=1)
    assert _docids(spark, a) == _docids(spark, b)
    assert _postings_hash(spark, a) == _postings_hash(spark, b)
    ixa, ixb = SearchIndex(spark, a), SearchIndex(spark, b)
    for q in ["w1 w2 w3", "w40", '"w1 w2"']:
        assert ixa.search_list(q, k=10) == ixb.search_list(q, k=10), q
