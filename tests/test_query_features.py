"""Sort rule (K7), pagination (K10), ngrams (Q3), synonyms (Q5),
hybrid merge (K12)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def feature_index(spark, tmp_path_factory):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    rows = [
        (0, "newyork pizza guide", "en", 5),
        (1, "new york travel notes", "en", 40),
        (2, "rapid transit in new york", "en", 30),
        (3, "fast trains of tokyo", "en", 20),
        (4, "quick snacks and pizza", "de", 10),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "rating"])
    cfg = IndexConfig(text_col="text", pk_col="doc_id", ts_col=None,
                      docid_col="doc_id", attr_cols=("lang", "rating"),
                      num_shards=2, num_buckets=2)
    d = str(tmp_path_factory.mktemp("fidx") / "idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    from search_engine_spark.query import SearchIndex

    return SearchIndex(spark, d), spark.createDataFrame(pdf)


def test_empty_results_typed_like_hits(feature_index):
    """Empty results carry doc_stats' pk type (bigint here), like hits, so
    callers can union them: a no-term query, a query whose filter matches
    nothing, and a no-term search_sorted."""
    ix, _ = feature_index
    hit = ix.search("york")
    misses = [ix.search("zzqqnotaword"),
              ix.search("york", filter_ast={"lang": "zz"})]
    assert hit.count() and not any(m.count() for m in misses)
    shape = [(f.name, f.dataType) for f in hit.schema.fields]
    for m in misses:
        assert [(f.name, f.dataType) for f in m.schema.fields] == shape
        assert hit.unionByName(m).count() == hit.count()
    sort = [("rating", "desc")]
    sorted_hit = ix.search_sorted(sort, query="york")
    sorted_miss = ix.search_sorted(sort, query="zzqqnotaword")
    assert [(f.name, f.dataType) for f in sorted_miss.schema.fields] == [
        (f.name, f.dataType) for f in sorted_hit.schema.fields]
    assert sorted_miss.schema["pk"].dataType == hit.schema["pk"].dataType
    assert sorted_hit.unionByName(sorted_miss).count() == sorted_hit.count()


def test_pagination_slices_global_ranking(feature_index):
    ix, _ = feature_index
    full = ix.search("new york pizza", k=5).collect()
    page2 = ix.search("new york pizza", k=2, offset=2).collect()
    assert [(r["docid"], r["score"]) for r in page2] == [
        (r["docid"], r["score"]) for r in full[2:4]
    ]
    assert [r["rank"] for r in page2] == [3, 4]


def test_ngram_expansion_matches_concatenated_term(feature_index):
    ix, _ = feature_index
    plain = {r["docid"] for r in ix.search("new york", k=5).collect()}
    assert 0 not in plain  # "newyork" is a different term
    with_ngrams = {r["docid"] for r in ix.search("new york", k=5, ngrams=True).collect()}
    assert 0 in with_ngrams


def test_synonym_expansion(feature_index):
    ix, _ = feature_index
    base = {r["docid"] for r in ix.search("fast", k=5).collect()}
    assert base == {3}
    syn = {r["docid"] for r in ix.search(
        "fast", k=5, synonyms={"fast": ["quick", "rapid"]}).collect()}
    assert syn == {2, 3, 4}


def test_match_all_is_conjunctive(feature_index):
    """TermsMatchingStrategy::All (reference src/search/mod.rs:226-238):
    only docs containing EVERY scoring term survive; scores match the
    disjunctive scores for those docs."""
    ix, _ = feature_index
    last = {r["docid"]: r["score"] for r in ix.search("new york", k=5).collect()}
    assert set(last) == {1, 2}  # disjunctive would include partial matches
    both = {r["docid"]: r["score"]
            for r in ix.search("york pizza", k=5).collect()}
    assert set(both) == {0, 1, 2, 4}
    allq = {r["docid"]: r["score"]
            for r in ix.search("york pizza", k=5, match_all=True).collect()}
    assert allq == {}  # no doc has both
    allq2 = {r["docid"]: r["score"]
             for r in ix.search("new york", k=5, match_all=True).collect()}
    assert allq2 == {d: s for d, s in last.items() if d in (1, 2)}


def test_sort_by_attribute(feature_index):
    ix, _ = feature_index
    res = ix.search_sorted([("rating", "desc")], query="new york pizza", k=10).collect()
    ratings = [r["rating"] for r in res]
    assert ratings == sorted(ratings, reverse=True)
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    # query-less: whole universe with filter
    res2 = ix.search_sorted([("rating", "asc")], filter_ast={"lang": "en"}, k=10).collect()
    assert [r["docid"] for r in res2] == [0, 3, 2, 1]
    # pagination on sorted results
    page = ix.search_sorted([("rating", "asc")], filter_ast={"lang": "en"},
                            k=2, offset=1).collect()
    assert [r["docid"] for r in page] == [3, 2]


def test_search_sorted_query_candidates_are_search_candidates(feature_index):
    """search_sorted(query=...) orders the docs search would return: a
    negated word excludes its docs and a phrase must match, as in
    search_rows."""
    ix, _ = feature_index
    sort = [("rating", "desc")]
    assert [r["docid"] for r in ix.search_rows("pizza -guide")] == [4]
    assert [r["docid"] for r in ix.search_sorted(
        sort, query="pizza -guide").collect()] == [4]
    for q in ('"new york"', '"new york" pizza', "york -travel", "pizza"):
        want = {r["docid"] for r in ix.search_rows(q, k=10)}
        got = ix.search_sorted(sort, query=q, k=10).collect()
        assert want and {r["docid"] for r in got} == want, q
        assert [r["rating"] for r in got] == sorted(
            (r["rating"] for r in got), reverse=True), q


def test_hybrid_merge(spark, feature_index):
    import numpy as np

    from search_engine_spark.query import hybrid_search

    ix, docs = feature_index
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(5, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[3]]  # semantically identical to doc 3
    res = hybrid_search(ix, emb, "pizza", q, k=5, semantic_ratio=0.5)
    rows = res.collect()
    assert rows[0]["rank"] == 1
    got = {r["docid"] for r in rows}
    assert 3 in got  # semantic side
    kw_top = ix.search("pizza", k=1).collect()[0]["docid"]
    assert kw_top in got  # keyword side
    # ratio=1 -> purely semantic: doc 3 must win
    pure = hybrid_search(ix, emb, "pizza", q, k=1, semantic_ratio=1.0).collect()
    assert pure[0]["docid"] == 3


def test_sources_enrich(spark, tmp_path):
    from search_engine_spark.sources import enrich_documents, read_documents

    pdf = pd.DataFrame(
        {"url": ["ok-1", None, "bad id with spaces", "x" * 600],
         "text": ["a", "b", "c", "d"]}
    )
    df = spark.createDataFrame(pdf)
    valid, quarantine = enrich_documents(df, "url")
    assert {r["url"] for r in valid.collect()} == {"ok-1"}
    reasons = {r["reject_reason"] for r in quarantine.collect()}
    assert reasons == {"missing_document_id", "invalid_document_id",
                       "document_id_too_long"}
    # autogenerate fills the missing pk deterministically
    valid2, quarantine2 = enrich_documents(df, "url", autogenerate=True)
    assert valid2.count() == 2
    auto = [r["url"] for r in valid2.collect() if r["url"].startswith("auto-")]
    assert len(auto) == 1
    valid3, _ = enrich_documents(df, "url", autogenerate=True)
    assert auto == [r["url"] for r in valid3.collect() if r["url"].startswith("auto-")]

    # json / csv readers roundtrip
    p = str(tmp_path / "docs.json")
    pd.DataFrame({"url": ["a", "b"], "text": ["t1", "t2"]}).to_json(
        p, orient="records", lines=True
    )
    got = read_documents(spark, p, fmt="json")
    assert got.count() == 2 and set(got.columns) == {"url", "text"}
    c = str(tmp_path / "docs.csv")
    pd.DataFrame({"url": ["a"], "text": ["t1"]}).to_csv(c, index=False)
    assert read_documents(spark, c, fmt="csv").count() == 1


def test_driver_execution_rank_identical_to_cluster(feature_index):
    """The driver point-read path must reproduce the cluster shard top-k
    exactly (same scorer functions over the same postings bytes)."""
    ix, _ = feature_index
    cases = [
        dict(query="new york pizza", mode="wand"),
        dict(query="new york pizza", mode="exhaustive"),
        dict(query="york pizza -tokyo", mode="exhaustive"),
        dict(query='"new york" guide', mode="exhaustive"),
        dict(query="new york", mode="exhaustive", match_all=True),
        dict(query="new york pizza", mode="exhaustive", offset=2),
    ]
    for kw in cases:
        a = [(r["rank"], r["docid"], r["pk"], round(r["score"], 9))
             for r in ix.search(k=4, execution="driver", **kw).collect()]
        b = [(r["rank"], r["docid"], r["pk"], round(r["score"], 9))
             for r in ix.search(k=4, execution="cluster", **kw).collect()]
        assert a == b, (kw, a, b)
    assert ix.search("zzzmissing", k=3, execution="driver").collect() == []


def test_word_split_expansion(feature_index):
    """Q6 word splits: 'newyork' in the query also matches docs containing
    'new' and 'york' as separate indexed words."""
    ix, _ = feature_index
    plain = {r["docid"] for r in ix.search("newyork", k=5).collect()}
    assert plain == {0}  # only the doc with the concatenated token
    with_splits = {r["docid"] for r in ix.search("newyork", k=5, splits=True).collect()}
    assert {0, 1, 2} <= with_splits  # split halves match the two-word docs


def test_maxscore_randomized_against_exhaustive(spark, tmp_path):
    """Adversarial randomized check of the MaxScore pruning bounds: on a
    random corpus with a skewed vocabulary, every random query must give
    the same docids and (to 1e-9) scores as exhaustive scoring, for
    several k, under all three algorithms."""
    import random

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rng = random.Random(123)
    vocab_hot = ["the", "of", "and", "data", "page"]
    vocab_cold = [f"w{i}" for i in range(60)]
    rows = []
    for d in range(300):
        n = rng.randrange(3, 40)
        words = [
            rng.choice(vocab_hot) if rng.random() < 0.5 else rng.choice(vocab_cold)
            for _ in range(n)
        ]
        rows.append((d, " ".join(words), "en"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="doc_id", ts_col=None,
                      docid_col="doc_id", attr_cols=("lang",),
                      num_shards=3, num_buckets=2, block_size=8)
    d = str(tmp_path / "ms_idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)

    def norm(rows):
        return [(r[0], round(r[1], 9)) for r in rows]

    for trial in range(25):
        nq = rng.randrange(1, 4)
        q = " ".join(
            rng.choice(vocab_hot) if rng.random() < 0.5 else rng.choice(vocab_cold)
            for _ in range(nq)
        )
        k = rng.choice([1, 3, 10, 50])
        ex = norm(ix.search_list(q, k=k, mode="exhaustive", execution="driver"))
        ms = norm(ix.search_list(q, k=k, mode="maxscore", execution="driver"))
        wd = norm(ix.search_list(q, k=k, mode="wand", execution="driver"))
        assert ms == ex, (trial, q, k, ms[:5], ex[:5])
        assert wd == ex, (trial, q, k, wd[:5], ex[:5])


def test_fetch_documents_returns_stored_fields(feature_index):
    ix, _ = feature_index
    res = ix.search("pizza", k=3)
    docs = ix.fetch_documents(res).collect()
    assert [r["rank"] for r in docs] == list(range(1, len(docs) + 1))
    assert all("pizza" in r["text"] for r in docs)
    assert {"rank", "docid", "score", "pk", "text", "lang", "rating"} <= set(
        docs[0].asDict()
    )


def test_fetch_documents_equals_docs_snapshot(spark, index_dir):
    """fetch_documents decorates result rows with every stored column as
    the live docs snapshot holds it, a timestamp column included, typed
    like the snapshot and nullable."""
    from pyspark.sql.types import StructField, StructType

    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, index_dir)
    res = ix.search("web search page", k=10)
    out = ix.fetch_documents(res)
    snap = ix._docs_snapshot()
    stored = [f for f in snap.schema.fields if f.name != "docid"]
    assert "warc_ts" in {f.name for f in stored}
    assert out.schema == StructType([
        *res.select("rank", "docid", "score").schema.fields,
        *[StructField(f.name, f.dataType, True) for f in stored]])
    rows = out.collect()
    hits = res.collect()
    assert [(r["rank"], r["docid"], r["score"]) for r in rows] == [
        (r["rank"], r["docid"], r["score"]) for r in hits]
    want = {r["docid"]: r.asDict() for r in snap.filter(
        F.col("docid").isin([r["docid"] for r in hits])).collect()}
    assert len(want) == len(rows) == 10
    for r in rows:
        assert {f.name: r[f.name] for f in stored} == {
            f.name: want[r["docid"]][f.name] for f in stored}, r["docid"]


def test_fetch_documents_runs_no_spark_job(spark, feature_index):
    """On a handle that has read the docs schema, decorating a driver-route
    result runs no Spark job and returns the rows in rank order, whatever
    the order of its input rows."""
    from search_engine_spark.query import _local_df

    ix, _ = feature_index
    ix._local_dict()
    ix._docs_snapshot_schema()
    sc = spark.sparkContext
    sc.setJobGroup("fetch-docs", "fetch-docs")
    try:
        res = ix.search("new york pizza", k=5)
        rows = ix.fetch_documents(res).collect()
        shuffled = _local_df(spark, [tuple(r) for r in res.collect()][::-1],
                             res.schema)
        again = ix.fetch_documents(shuffled).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fetch-docs") == []
    assert len(rows) > 2 and [r["rank"] for r in rows] == list(
        range(1, len(rows) + 1))
    assert again == rows


def test_search_sorted_no_term_schema_equals_hit_schema(feature_index):
    """A query without a scoring term returns search_sorted's hit schema,
    nullability included."""
    ix, _ = feature_index
    sort = [("rating", "desc")]
    hit = ix.search_sorted(sort, query="york")
    assert hit.count()
    assert ix.search_sorted(sort, query="!!!").schema == hit.schema


def test_fetch_documents_point_read_no_corpus_scan(feature_index):
    """Decorating k result rows must not plan a corpus scan/shuffle: the
    k-bounded path fetches stored fields via the pyarrow docs point read
    and rebuilds a local frame (VERDICT r4 #5)."""
    ix, _ = feature_index
    res = ix.search("pizza", k=2)
    out = ix.fetch_documents(res)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no corpus FileScan and no Exchange; the source is the driver-built
    # k-row local frame
    assert "FileScan" not in plan and "LocalTableScan" in plan, plan
    assert "Exchange" not in plan and "Join" not in plan, plan
    snip = ix.highlight_results(ix.search("pizza", k=2), "pizza")
    plan = snip._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Exchange" not in plan, plan


def test_text_from_html_byte_identical(spark):
    """The extraction invariant: text extracted from the html column equals
    the ground-truth text column byte-for-byte, per url."""
    from search_engine_spark.corpus import generate_pages
    from search_engine_spark.sources import text_from_html

    pdf = generate_pages(n_docs=50, seed=9)
    df = spark.createDataFrame(pdf).withColumnRenamed("text", "want")
    got = text_from_html(df, out_col="text")
    bad = got.filter(F.col("want") != F.col("text")).count()
    assert bad == 0
    # entities + scripts + nesting
    rows = [("u1", b"<html><script>var x=1;</script><body>A &amp; B<!-- c --> <b>ok</b></body></html>")]
    one = text_from_html(spark.createDataFrame(rows, "url string, html binary"))
    assert one.collect()[0]["text"] == "A & B ok"


def test_highlight_crop(spark):
    from search_engine_spark.sources import highlight_crop

    rows = [(1, "x " * 50 + "the needle word here " + "y " * 50)]
    df = spark.createDataFrame(rows, "id int, text string")
    out = highlight_crop(df, ["needle"], crop_length=40).collect()[0]["snippet"]
    assert "<em>needle</em>" in out
    assert out.startswith("…") and out.endswith("…")
    assert len(out) <= 42
    full = highlight_crop(df, ["needle"]).collect()[0]["snippet"]
    assert "<em>needle</em>" in full and len(full) > 100


def test_min_prox_spec():
    """Frozen reference asymmetric distance (src/proximity.rs:7-15)."""
    from search_engine_spark.oracle.bm25 import _min_prox

    assert _min_prox([0], [1]) == 1          # adjacent forward
    assert _min_prox([5], [2]) == 4          # backward: 5-2+1
    assert _min_prox([0, 10], [12, 3]) == 2  # best pair is 10 -> 12


def test_derivation_penalties_in_plan(search_index):
    """K3/K6 analogue: derived scoring terms carry penalty * idf
    (config.py frozen penalties), exact words full idf."""
    from search_engine_spark.config import (
        SYNONYM_PENALTY,
        TYPO_PENALTY,
    )
    from search_engine_spark.query import bm25_idf

    n = search_index.n_docs
    df_table = search_index._lookup_exact(["table"])["table"]
    plan = search_index.plan("tabl~")
    assert "table" in plan.term_weights
    assert abs(
        plan.term_weights["table"] - bm25_idf(n, df_table) * TYPO_PENALTY
    ) < 1e-12

    df_engine = search_index._lookup_exact(["engine"])["engine"]
    df_index = search_index._lookup_exact(["index"])["index"]
    plan2 = search_index.plan("engine", synonyms={"engine": ["index"]})
    assert abs(plan2.term_weights["engine"] - bm25_idf(n, df_engine)) < 1e-12
    assert abs(
        plan2.term_weights["index"] - bm25_idf(n, df_index) * SYNONYM_PENALTY
    ) < 1e-12

    # a term reachable both exactly and via derivation keeps the full weight
    plan3 = search_index.plan("index engine", synonyms={"engine": ["index"]})
    assert abs(plan3.term_weights["index"] - bm25_idf(n, df_index)) < 1e-12


def test_plan_term_order_is_query_order(search_index, monkeypatch):
    """Scoring terms keep the query's first-seen word order, on the local
    dictionary and on the Spark dictionary lookup alike, so a plan (and
    the summation order of its scores) does not depend on the hash seed."""
    words = "web table spark search engine join query web".split()
    d = search_index._local_dict()
    want = [w for w in dict.fromkeys(words) if w in d]
    assert len(want) >= 5
    assert list(search_index.plan(" ".join(words)).term_weights) == want
    monkeypatch.setattr(search_index, "_dict", None)
    monkeypatch.setattr(search_index, "_local_dict_max_terms", -1)
    assert list(search_index._lookup_exact(words)) == want


def test_best_window_crop_centers_on_cluster(spark):
    """Reference Matcher best-window: the crop must center on the window
    with the most distinct query terms, not the first match."""
    from search_engine_spark.sources import highlight_best

    text = (
        "alpha starts here and then filler " + "pad " * 40
        + "alpha beta gamma together " + "pad " * 40 + "ending words"
    )
    df = spark.createDataFrame([(1, text)], "docid long, text string")
    out = highlight_best(
        df, ["alpha", "beta", "gamma"], crop_length=60
    ).collect()[0]["snippet"]
    assert "<em>beta</em>" in out and "<em>gamma</em>" in out, out
    # the lone leading 'alpha' (1 distinct term) must NOT be the crop site
    assert "starts here" not in out
    assert out.startswith("…") and out.endswith("…")


def test_best_window_no_matches_and_no_crop(spark):
    from search_engine_spark.sources import highlight_best

    df = spark.createDataFrame(
        [(1, "nothing to see"), (2, "alpha here")], "docid long, text string"
    )
    rows = {r["docid"]: r["snippet"] for r in highlight_best(
        df, ["alpha"], crop_length=None
    ).collect()}
    assert rows[1] == "nothing to see"
    assert rows[2] == "<em>alpha</em> here"


def test_highlight_results_includes_derived_terms(feature_index):
    """Typo-derived terms must highlight (matching_words.rs semantics)."""
    ix, _ = feature_index
    res = ix.search("yorkk~", k=3, mode="exhaustive")
    out = ix.highlight_results(res, "yorkk~").collect()
    assert len(out) > 0
    assert all("<em>york</em>" in (r["snippet"] or "") for r in out), (
        [(r["snippet"] or "")[:80] for r in out]
    )


def test_pin_unpin_results_identical(feature_index):
    """pin() serves queries from the executor cache; results must be
    byte-identical to the parquet-scan path, for full and partial pins."""
    ix, _ = feature_index
    try:
        base = [tuple(r) for r in
                ix.search("new york pizza", k=5, mode="exhaustive", execution="cluster").collect()]
        ix.pin()
        pinned = [tuple(r) for r in
                  ix.search("new york pizza", k=5, mode="exhaustive", execution="cluster").collect()]
        assert pinned == base
        # partial pin: only bucket 0 — queries hitting other buckets fall back
        ix.pin(buckets=[0])
        part = [tuple(r) for r in
                ix.search("new york pizza", k=5, mode="exhaustive", execution="cluster").collect()]
        assert part == base
        filt = ix.search("pizza", k=5, filter_ast={"lang": "en"}).collect()
        assert all(True for _ in filt)
    finally:
        ix.unpin()
    after = [tuple(r) for r in
             ix.search("new york pizza", k=5, mode="exhaustive", execution="cluster").collect()]
    assert after == base


def test_matching_strategy_last_buckets_by_word_prefix(feature_index):
    """Reference TermsMatchingStrategy::Last (the reference default,
    src/search/mod.rs:226-238): docs bucket by the longest matched PREFIX
    of query words, drop-last-word-first; BM25 ranks within buckets."""
    ix, _ = feature_index
    # query "new york pizza": doc1/doc2 match (new, york) = bucket 2;
    # doc4 matches only pizza (prefix 0); doc0 ("newyork pizza") matches
    # no bare word prefix -> bucket 0 too.
    res = ix.search("new york pizza", k=5, matching_strategy="last").collect()
    by_doc = {r["docid"]: r["rank"] for r in res}
    assert by_doc[1] < by_doc[4] and by_doc[2] < by_doc[4]
    # plain BM25 ('any') would rank doc4's pizza hit competitively; Last
    # must put every bucket-2 doc above every bucket-0 doc regardless of tf
    top2 = {r["docid"] for r in res[:2]}
    assert top2 == {1, 2}
    # driver and cluster paths agree
    drv = [(r["docid"], round(r["score"], 9)) for r in
           ix.search("new york pizza", k=5, matching_strategy="last",
                     execution="driver").collect()]
    clu = [(r["docid"], round(r["score"], 9)) for r in
           ix.search("new york pizza", k=5, matching_strategy="last",
                     execution="cluster").collect()]
    assert drv == clu
    # synonym derivations count toward their word's group: 'gotham' ->
    # 'york' synonym lets doc3-like docs... here doc1/doc2 still match and
    # a doc matching via synonym gets the same bucket credit
    syn = ix.search("new gotham", k=5, matching_strategy="last",
                    synonyms={"gotham": ["york"]}).collect()
    assert {r["docid"] for r in syn[:2]} == {1, 2}
    # strategy='all' maps to conjunctive match_all
    allr = ix.search("new york", k=5, matching_strategy="all").collect()
    assert {r["docid"] for r in allr} == {1, 2}


def test_search_rows_identical_to_search(search_index):
    """Serving API: search_rows returns exactly search().collect() as plain
    dicts, on both the driver point-read path and the cluster path."""
    for q, kw in [("search engine", {}), ("web data", {"mode": "exhaustive"}),
                  ("search engine", {"filter_ast": {"lang": "de"}})]:
        via_df = [r.asDict() for r in search_index.search(q, k=10, **kw).collect()]
        via_rows = search_index.search_rows(q, k=10, **kw)
        assert via_rows == via_df, (q, kw)
    # forced cluster equals driver rows
    a = search_index.search_rows("search engine", k=10)
    b = [r.asDict() for r in search_index.search(
        "search engine", k=10, execution="cluster").collect()]
    assert a == b
    assert search_index.search_rows("zzzzqqq") == []


def test_split_candidates_ranked_by_pair1_frequency(spark, tmp_path):
    """Reference Q6 split ranking (query_graph.rs:398-453): candidate
    splits are ordered by pair-proximity-1 doc frequency (left immediately
    followed by right), not by the halves' df. 'abcd' splits as
    (a, bcd) — min-df 5, never adjacent — or (ab, cd) — min-df 3, adjacent
    in 3 docs. With split_take_n=1 the pair-frequency winner (ab, cd) must
    be chosen; with the point-read budget forced to 0 the documented min-df
    fallback picks (a, bcd)."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [(0, "abcd whole token")]
    rows += [(1 + i, f"ab cd adjacent pair {i}") for i in range(3)]
    rows += [(4 + i, f"a spacer bcd far apart {i}") for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    cfg = IndexConfig(text_col="text", pk_col="doc_id", ts_col=None,
                      docid_col="doc_id", num_shards=2, num_buckets=2)
    d = str(tmp_path / "split_idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)

    p = ix.plan("abcd", splits=True, split_take_n=1)
    assert "ab" in p.term_weights and "cd" in p.term_weights, p.term_weights
    assert "bcd" not in p.term_weights

    # budget exhausted -> documented min-df fallback (higher-df halves win).
    # Fresh handle: the first plan() call cached the pair counts on `ix`,
    # and cached counts are used regardless of budget (they cost nothing).
    ix2 = SearchIndex(spark, d)
    ix2.driver_exec_max_postings = 0
    p2 = ix2.plan("abcd", splits=True, split_take_n=1)
    assert "bcd" in p2.term_weights and "ab" not in p2.term_weights

    # cached counts win over the budget: the warm handle keeps the
    # reference-accurate ranking even at budget 0
    ix.driver_exec_max_postings = 0
    p3 = ix.plan("abcd", splits=True, split_take_n=1)
    assert "ab" in p3.term_weights and "bcd" not in p3.term_weights


# ---------------------------------------------------------------------------
# phrase (multi-word) synonyms — reference Q5 full semantics,
# query_graph.rs:307-396
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [
        (0, "newyork pizza"),            # exact one-word term
        (1, "new york pizza"),           # the phrase, consecutive
        (2, "york new haven"),           # both words, wrong order
        (3, "new england york trip"),    # both words, not adjacent
        (4, "boston travel notes"),      # neither
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    cfg = IndexConfig(text_col="text", pk_col="doc_id", ts_col=None,
                      docid_col="doc_id", num_shards=2, num_buckets=2)
    d = str(tmp_path_factory.mktemp("synidx") / "idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    return SearchIndex(spark, d), d


def test_word_to_phrase_synonym_requires_adjacency(syn_index):
    """'newyork' -> 'new york' matches the words CONSECUTIVELY: docs with
    both words out of order / apart get nothing."""
    import math

    ix, _ = syn_index
    res = dict(ix.search_list("newyork", k=5,
                              synonyms={"newyork": ["new york"]}))
    assert set(res) == {0, 1}
    # hand-computed scores: N=5, avgdl=3.0
    # doc0: idf(newyork df=1)=ln(4), tf=1, dl=2 -> norm=0.9, 1/1.9
    # doc1: phrase df=1 -> wt=0.5*ln(4); tf_p=1, dl=3 -> norm=1.2, 1/2.2
    idf = math.log(1.0 + (5 - 1 + 0.5) / 1.5)
    assert math.isclose(res[0], idf / 1.9, rel_tol=1e-9)
    assert math.isclose(res[1], 0.5 * idf / 2.2, rel_tol=1e-9)


def test_phrase_to_word_synonym(syn_index):
    """Multi-word KEY: the consecutive query run 'new york' expands to the
    word 'newyork'; every word of the run gets Last-strategy credit."""
    ix, _ = syn_index
    res = dict(ix.search_list("new york", k=5,
                              synonyms={"new york": ["newyork"]}))
    assert 0 in res  # matched only through the synonym word
    assert set(res) == {0, 1, 2, 3}
    # Last strategy: doc0 matches BOTH query words through the synonym
    # (full word credit), so it lands in the top bucket with docs 1-3
    last = ix.search("new york", k=5, matching_strategy="last",
                     synonyms={"new york": ["newyork"]}).collect()
    det = ix.score_details("new york", k=5, matching_strategy="last",
                           synonyms={"new york": ["newyork"]}).collect()
    words_part = {r["docid"]: r["part"] for r in det if r["term"] == "~words"}
    assert words_part[0] == max(words_part.values())
    assert len(last) == 4


def test_phrase_synonym_score_details_sum(syn_index):
    import math

    ix, _ = syn_index
    for kw in ({}, {"matching_strategy": "last"}):
        res = dict(ix.search_list("newyork pizza", k=5, mode="exhaustive",
                                  synonyms={"newyork": ["new york"]}, **kw))
        det = ix.score_details("newyork pizza", k=5,
                               synonyms={"newyork": ["new york"]},
                               **kw).collect()
        sums: dict[int, float] = {}
        for r in det:
            sums[r["docid"]] = sums.get(r["docid"], 0.0) + r["part"]
        assert set(sums) == set(res)
        for dd, s in res.items():
            assert math.isclose(sums[dd], s, rel_tol=1e-9, abs_tol=1e-12), (
                dd, s, sums[dd], kw)


def test_phrase_synonym_driver_cluster_identical(syn_index):
    ix, _ = syn_index
    kw = dict(k=5, synonyms={"newyork": ["new york"]})
    driver = ix.search_list("newyork pizza", execution="driver", **kw)
    cluster = ix.search_list("newyork pizza", execution="cluster", **kw)
    assert driver == cluster


def test_phrase_synonym_fallback_without_positions(spark, tmp_path):
    """store_positions=False: adjacency can't be verified, so the phrase
    words fall back to independent synonym terms (documented)."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [(0, "newyork pizza"), (1, "new york pizza"),
            (2, "york new haven")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    cfg = IndexConfig(text_col="text", pk_col="doc_id", ts_col=None,
                      docid_col="doc_id", num_shards=2, num_buckets=2,
                      store_positions=False)
    d = str(tmp_path / "nopos_idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)
    p = ix.plan("newyork", synonyms={"newyork": ["new york"]})
    assert not p.syn_phrases
    assert {"newyork", "new", "york"} <= set(p.term_weights)
    # out-of-order doc 2 now matches too (adjacency not enforced)
    res = dict(ix.search_list("newyork", k=5,
                              synonyms={"newyork": ["new york"]}))
    assert set(res) == {0, 1, 2}


def test_pin_size_gate_and_pin_for(syn_index):
    """pin() refuses oversized slices (whole-index pin of a big index is
    the measured anti-pattern); pin_for pins the query mix's buckets."""
    ix, _ = syn_index
    with pytest.raises(ValueError, match="refused"):
        ix.pin(max_bytes=0)
    ix.pin_for(["newyork"])
    try:
        assert ix._pinned is not None
        assert len(ix._pinned_buckets) >= 1
        assert dict(ix.search_list("newyork", k=3))
    finally:
        ix.unpin()


# ---------------------------------------------------------------------------
# search_many (batch retrieval)
# ---------------------------------------------------------------------------


def test_search_many_rank_identity_with_search(search_index):
    """Each batch query's (rank, docid, score) must equal the per-query
    serving path's cluster execution on the same index."""
    queries = [(0, "web search engine"), (1, "crawl data page"), (2, "the")]
    batch = search_index.search_many(queries, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, text in queries:
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        want = search_index.search(text, k=5, execution="cluster").collect()
        assert [(r["rank"], r["docid"]) for r in got] == [
            (w["rank"], w["docid"]) for w in want
        ], f"query {qid}"
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9
            assert g["pk"] == w["pk"]


def test_search_many_match_all(search_index):
    queries = [(7, "web search")]
    batch = search_index.search_many(queries, k=5, match_all=True).collect()
    want = search_index.search(
        "web search", k=5, match_all=True, execution="cluster"
    ).collect()
    got = sorted(batch, key=lambda r: r["rank"])
    assert [(r["rank"], r["docid"]) for r in got] == [
        (w["rank"], w["docid"]) for w in want
    ]


def test_search_many_dataframe_input_and_unknown_terms(search_index, spark):
    qdf = spark.createDataFrame(
        [("a", "web engine"), ("b", "zzzznotaword")],
        "query_id string, query string",
    )
    rows = search_index.search_many(qdf, k=3).collect()
    qids = {r["query_id"] for r in rows}
    assert qids == {"a"}  # no-term query contributes no rows
    assert all(isinstance(r["query_id"], str) for r in rows)


def test_search_many_rejects_duplicate_query_ids(search_index):
    """Duplicate ids would silently merge two rankings into one."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unique query_ids"):
        search_index.search_many([(0, "web"), (1, "engine"), (0, "data")])


def test_search_many_empty_results_keep_caller_qid_type(search_index):
    """Every return path — including the no-indexable-words and
    empty-batch shortcuts — must type query_id from the CALLER's ids so
    int-qid callers can union empty and non-empty batch results."""
    hit = search_index.search_many([(5, "web")], k=3)
    empty_union = search_index.search_many([(6, "!!!")], k=3)  # no words
    empty_batch = search_index.search_many([(7, "zzqqnotaword")], k=3)
    # union compatibility = same names + types (nullability may differ:
    # row_number's rank is non-nullable on the hit path)
    shapes = [[(f.name, f.dataType) for f in df.schema.fields]
              for df in (hit, empty_union, empty_batch)]
    assert shapes[0] == shapes[1] == shapes[2]
    assert empty_union.count() == 0 and empty_batch.count() == 0
    assert hit.unionByName(empty_union).count() == hit.count()
    str_empty = search_index.search_many([("s", "zzqq vvrr")], k=3)
    assert str_empty.schema["query_id"].dataType.simpleString() == "string"


@pytest.mark.parametrize("q", ['"search engine"', "search -engine"])
def test_wand_mode_keeps_driver_budget_when_exhaustive_runs(
        spark, index_dir, monkeypatch, q):
    """A phrase or a negation runs the exhaustive scorer whatever the mode,
    so mode='wand' must not cut the query's driver budget by the WAND cost
    ratio: at a budget of exactly sum(df) it stays on the driver route and
    returns the cluster route's rows."""
    from search_engine_spark.query import SearchIndex, _plan_terms

    ix = SearchIndex(spark, index_dir)
    plan = ix.plan(q, 10)
    cost = sum(ix._lookup_exact(_plan_terms(plan)).values())
    assert cost >= 16
    ix.driver_exec_max_postings = cost
    calls = []
    driver = ix._execute_driver

    def spy(*args, **kwargs):
        calls.append(args)
        return driver(*args, **kwargs)

    monkeypatch.setattr(ix, "_execute_driver", spy)
    rows = ix.search_rows(q, k=10, mode="wand")
    assert len(calls) == 1, "query left the driver route"
    assert rows == [r.asDict() for r in ix.search(
        q, k=10, mode="wand", execution="cluster").collect()]
