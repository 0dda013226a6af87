"""BM25 rank identity: distributed engine vs single-process oracle
(SURVEY.md §5.2 item 2 — the binding correctness property).

Every query in the frozen fixture must produce IDENTICAL (docid, score)
top-k lists, rank by rank, in both exhaustive and block-max WAND modes.
"""

import math

import pytest

from search_engine_spark.corpus import query_fixture
from search_engine_spark.oracle.bm25 import oracle_search

QUERIES = [(int(r.qid), r.query, int(r.k)) for r in query_fixture().itertuples()]


def assert_rank_identical(engine_results, oracle_results, qid, query):
    assert len(engine_results) == len(oracle_results), (
        f"q{qid} {query!r}: engine returned {len(engine_results)} rows, "
        f"oracle {len(oracle_results)}"
    )
    for rank, ((ed, es), (od, os_)) in enumerate(zip(engine_results, oracle_results), 1):
        assert ed == od, f"q{qid} {query!r} rank {rank}: engine docid {ed} != oracle {od}"
        assert math.isclose(es, os_, rel_tol=1e-9, abs_tol=1e-12), (
            f"q{qid} {query!r} rank {rank}: engine score {es} != oracle {os_}"
        )


@pytest.mark.parametrize("qid,query,k", QUERIES, ids=[f"q{q[0]}" for q in QUERIES])
def test_rank_identity_exhaustive(search_index, oracle_idx, qid, query, k):
    engine = search_index.search_list(query, k=k, mode="exhaustive")
    oracle = oracle_search(oracle_idx, query, k=k)
    assert_rank_identical(engine, oracle, qid, query)


@pytest.mark.parametrize(
    "qid,query,k",
    [q for q in QUERIES if "-" not in q[1] and '"' not in q[1]],
    ids=[f"q{q[0]}" for q in QUERIES if "-" not in q[1] and '"' not in q[1]],
)
def test_rank_identity_wand(search_index, oracle_idx, qid, query, k):
    engine = search_index.search_list(query, k=k, mode="wand")
    oracle = oracle_search(oracle_idx, query, k=k)
    assert_rank_identical(engine, oracle, qid, query)


@pytest.mark.parametrize(
    "qid,query,k",
    [q for q in QUERIES if "-" not in q[1] and '"' not in q[1]],
    ids=[f"q{q[0]}" for q in QUERIES if "-" not in q[1] and '"' not in q[1]],
)
def test_rank_identity_maxscore(search_index, oracle_idx, qid, query, k):
    """Vectorized block-max MaxScore must be rank-identical to the oracle
    (hence to WAND and exhaustive) on every fixture query."""
    engine = search_index.search_list(query, k=k, mode="maxscore")
    oracle = oracle_search(oracle_idx, query, k=k)
    assert_rank_identical(engine, oracle, qid, query)


@pytest.mark.parametrize(
    "qid,query,k",
    [q for q in QUERIES if "-" not in q[1] and '"' not in q[1]
     and len(q[1].split()) >= 2],
    ids=[f"q{q[0]}" for q in QUERIES if "-" not in q[1] and '"' not in q[1]
         and len(q[1].split()) >= 2],
)
def test_rank_identity_proximity(search_index, oracle_idx, qid, query, k):
    """Proximity-boosted BM25 (reference K4) must be rank-identical between
    the distributed engine and the oracle on every multi-word fixture query."""
    engine = search_index.search_list(
        query, k=k, mode="exhaustive", proximity=1.0
    )
    oracle = oracle_search(oracle_idx, query, k=k, prox_weight=1.0)
    assert_rank_identical(engine, oracle, qid, f"{query} [prox]")


def test_proximity_boost_changes_order(search_index, oracle_idx):
    """Docs where the query words are adjacent must gain score vs plain
    BM25; the bonus per pair is at most prox_weight (minprox >= 1)."""
    plain = dict(search_index.search_list("search engine", k=50))
    boosted = dict(
        search_index.search_list("search engine", k=50, proximity=1.0)
    )
    assert any(
        boosted.get(d, 0.0) > s + 1e-12 for d, s in plain.items()
        if d in boosted
    ), "no doc gained a proximity bonus"
    for d, s in boosted.items():
        if d in plain:
            gain = s - plain[d]
            assert -1e-9 <= gain <= 1.0 + 1e-9


def test_proximity_requires_positions(spark, pages_pdf, tmp_path):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    d = str(tmp_path / "noposs")
    cfg = IndexConfig(num_shards=2, num_buckets=2, store_positions=False)
    build_index(spark, spark.createDataFrame(pages_pdf.head(50)), d, cfg)
    ix = SearchIndex(spark, d)
    with pytest.raises(ValueError, match="store_positions"):
        ix.search("search engine", proximity=1.0)


def test_nonempty_results(search_index):
    # sanity: the headline query matches documents at all
    res = search_index.search_list("web search engine", k=10)
    assert len(res) == 10
    scores = [s for _, s in res]
    assert scores == sorted(scores, reverse=True)


def test_filtered_search_matches_oracle(search_index, oracle_idx):
    # filter on lang attribute restricts candidates (reference F1-F7 + K7)
    allowed = {d for d, a in oracle_idx.attrs.items() if a["lang"] == "de"}
    oracle = oracle_search(oracle_idx, "search engine", k=10, allowed_docids=allowed)
    engine = search_index.search_list(
        "search engine", k=10, filter_ast={"lang": "de"}
    )
    assert_rank_identical(engine, oracle, "filter-de", "search engine +lang=de")


def test_filter_in_and_range(search_index, oracle_idx):
    allowed = {
        d for d, a in oracle_idx.attrs.items() if a["lang"] in ("fr", "ru")
    }
    oracle = oracle_search(oracle_idx, "data", k=10, allowed_docids=allowed)
    engine = search_index.search_list(
        "data", k=10, filter_ast={"lang": {"$in": ["fr", "ru"]}}
    )
    assert_rank_identical(engine, oracle, "filter-in", "data +lang in fr,ru")


def test_unknown_term_empty(search_index):
    assert search_index.search_list("zzzzqqqqxxxx") == []


def test_score_details_sum_equals_score(search_index):
    """K9 breakdown invariant: sum of per-term parts (+ proximity rows)
    per docid reproduces the search score exactly."""
    for kw in ({}, {"proximity": 1.0}, {"matching_strategy": "last"},
               {"matching_strategy": "last", "proximity": 1.0}):
        res = dict(search_index.search_list(
            "web search engine", k=10, mode="exhaustive", **kw
        ))
        det = search_index.score_details(
            "web search engine", k=10, **kw
        ).collect()
        sums: dict[int, float] = {}
        for r in det:
            sums[r["docid"]] = sums.get(r["docid"], 0.0) + r["part"]
        assert set(sums) == set(res)
        for d, s in res.items():
            assert math.isclose(sums[d], s, rel_tol=1e-9, abs_tol=1e-12), (
                d, s, sums[d], kw
            )


def test_proximity_driver_path_identical(search_index, oracle_idx):
    """The pyarrow point-read execution path must apply the same proximity
    bonus as the cluster path (both route to the exhaustive scorer)."""
    q = "web search engine"
    cluster = search_index.search_list(
        q, k=10, mode="exhaustive", execution="cluster", proximity=1.0
    )
    driver = search_index.search_list(
        q, k=10, mode="exhaustive", execution="driver", proximity=1.0
    )
    oracle = oracle_search(oracle_idx, q, k=10, prox_weight=1.0)
    assert_rank_identical(cluster, oracle, "prox-cluster", q)
    assert_rank_identical(driver, oracle, "prox-driver", q)


@pytest.mark.parametrize(
    "qid,query,k",
    [q for q in QUERIES if "-" not in q[1] and '"' not in q[1]
     and len(q[1].split()) >= 2],
    ids=[f"q{q[0]}" for q in QUERIES if "-" not in q[1] and '"' not in q[1]
         and len(q[1].split()) >= 2],
)
def test_rank_identity_proximity_cost(search_index, oracle_idx, qid, query, k):
    """Multi-pair budgeted cost proximity (reference ranking/proximity.rs
    cost paths folded to a scalar, QueryPlan.prox_gaps spec) must be
    rank-identical between the engine and the oracle."""
    engine = search_index.search_list(
        query, k=k, mode="exhaustive", proximity=1.0, proximity_mode="cost"
    )
    oracle = oracle_search(oracle_idx, query, k=k, prox_weight=1.0,
                           prox_mode="cost")
    assert_rank_identical(engine, oracle, qid, f"{query} [prox-cost]")


def test_proximity_cost_nonadjacent_pair_changes_order(spark, tmp_path):
    """The cost model sees NON-ADJACENT query pairs: two docs with identical
    consecutive-pair proximities but different (w1, w3) distance must tie
    under 'pairs' mode and rank apart under 'cost' mode."""
    import pandas as pd

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    # alpha beta gamma: same dl, same vocab, tf=1 each -> identical BM25;
    # both docs have c(alpha,beta)=1 and c(beta,gamma)=3, but doc X has
    # c(alpha,gamma)=2 (gamma just before alpha) and doc Y has 4 (after).
    rows = [
        ("x", "gamma alpha beta zz ww"),
        ("y", "alpha beta zz ww gamma"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    d = str(tmp_path / "cost_idx")
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      num_shards=2, num_buckets=2)
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)

    q = "alpha beta gamma"
    pairs = ix.search(q, k=2, mode="exhaustive", proximity=1.0)
    cost = ix.search(q, k=2, mode="exhaustive", proximity=1.0,
                     proximity_mode="cost")
    p = {r["pk"]: r["score"] for r in pairs.collect()}
    c = {r["pk"]: r["score"] for r in cost.collect()}
    # identical dl and tf -> same BM25; consecutive pairs identical
    assert abs(p["x"] - p["y"]) < 1e-12, "pairs mode should tie"
    # cost mode: S = 1 + 1 + 0.5 = 2.5, budget 10;
    # x: cost = 1 + 3 + 0.5*2 = 5 -> bonus 0.5; y: 1 + 3 + 0.5*4 = 6 -> 0.4
    assert c["x"] - c["y"] == pytest.approx(0.1, abs=1e-9)
    ranks = [r["pk"] for r in cost.collect()]
    assert ranks == ["x", "y"]


def test_score_details_sum_equals_score_cost_mode(search_index):
    """K9 invariant holds for the cost model: sum(part) == executed score
    (the '~prox' component carries the whole budgeted bonus)."""
    kw = {"proximity": 1.0, "proximity_mode": "cost"}
    top = {r["docid"]: r["score"]
           for r in search_index.search("search engine", k=5,
                                        mode="exhaustive", **kw).collect()}
    parts = search_index.score_details("search engine", k=5, **kw).collect()
    by_doc: dict[int, float] = {}
    for r in parts:
        by_doc[r["docid"]] = by_doc.get(r["docid"], 0.0) + r["part"]
    for d, s in top.items():
        assert by_doc[d] == pytest.approx(s, abs=1e-9)


def test_exactness_exact_field_outranks_equal_bm25(spark, tmp_path):
    """Reference ExactnessRule ExactAttribute (ranking/exactness.rs:16-95):
    a doc whose whole field equals the query outranks docs with identical
    BM25; a doc merely STARTING with the query fails the single-field dl
    check."""
    import pandas as pd

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [
        ("x", "table join"),        # exact: anchored at 0, dl == 2
        ("y", "join table"),        # same tf/dl -> identical BM25, not exact
        ("z", "table join extra"),  # prefix only: dl check rejects
    ]
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    d = str(tmp_path / "exact_idx")
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      num_shards=2, num_buckets=2)
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)

    plain = {r["pk"]: r["score"]
             for r in ix.search("table join", k=3, mode="exhaustive").collect()}
    assert plain["x"] == pytest.approx(plain["y"], abs=1e-12)
    boosted = ix.search("table join", k=3, mode="exhaustive",
                        exactness=2.0).collect()
    b = {r["pk"]: r["score"] for r in boosted}
    assert b["x"] == pytest.approx(plain["x"] + 2.0, abs=1e-9)
    assert b["y"] == pytest.approx(plain["y"], abs=1e-12)
    assert b["z"] == pytest.approx(plain["z"], abs=1e-12)
    assert [r["pk"] for r in boosted][0] == "x"

    # oracle mirror agrees rank- and score-identically
    from search_engine_spark.oracle.bm25 import build_oracle_index, oracle_search

    oidx = build_oracle_index(pdf, text_col="text", pk_col="url", ts_col=None)
    ora = oracle_search(oidx, "table join", k=3, exact_boost=2.0)
    eng = [(r["docid"], r["score"]) for r in boosted]
    assert [d_ for d_, _ in eng] == [d_ for d_, _ in ora]
    for (d1, s1), (d2, s2) in zip(eng, ora):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_exactness_multifield_whole_field(spark, tmp_path):
    """BM25F path: a doc whose SOURCE field equals the query gets the boost
    (anchored at fid << 16); positions never cross fields."""
    import pandas as pd

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [
        ("x", "lots of words here", "alpha beta"),   # source == query
        ("y", "alpha beta words here", "gamma src"),  # query only in text tail? no: text STARTS with it
    ]
    pdf = pd.DataFrame(rows, columns=["url", "text", "source"])
    d = str(tmp_path / "exact_mf")
    cfg = IndexConfig(field_cols=(("text", 1), ("source", 2)),
                      pk_col="url", ts_col=None, num_shards=2, num_buckets=2)
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    ix = SearchIndex(spark, d)
    plain = {r["pk"]: r["score"]
             for r in ix.search("alpha beta", k=2, mode="exhaustive").collect()}
    b = {r["pk"]: r["score"]
         for r in ix.search("alpha beta", k=2, mode="exhaustive",
                            exactness=3.0).collect()}
    # x: source field equals query -> boost. y: text field STARTS with the
    # query -> multi-field prefix deviation boosts it too (documented).
    assert b["x"] == pytest.approx(plain["x"] + 3.0, abs=1e-9)
    assert b["y"] == pytest.approx(plain["y"] + 3.0, abs=1e-9)


def test_score_details_sum_equals_score_exactness(spark, tmp_path):
    import pandas as pd

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    rows = [("x", "table join"), ("y", "join table"), ("z", "table join extra")]
    d = str(tmp_path / "exact_sd")
    build_index(spark, spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"])), d,
        IndexConfig(text_col="text", pk_col="url", ts_col=None,
                    num_shards=2, num_buckets=2))
    ix = SearchIndex(spark, d)
    kw = {"exactness": 2.0}
    top = {r["docid"]: r["score"]
           for r in ix.search("table join", k=3, mode="exhaustive", **kw).collect()}
    parts = ix.score_details("table join", k=3, **kw).collect()
    by_doc: dict[int, float] = {}
    for r in parts:
        by_doc[r["docid"]] = by_doc.get(r["docid"], 0.0) + r["part"]
    for dd, s in top.items():
        assert by_doc[dd] == pytest.approx(s, abs=1e-9)
