"""Filter AST -> Catalyst (reference F1-F8, filter.rs semantics)."""

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def fdf(spark):
    pdf = pd.DataFrame(
        {
            "id": [0, 1, 2, 3, 4, 5],
            "lang": ["en", "EN", "de", None, "", "fr"],
            "stars": [1.0, 2.5, None, 4.0, 5.0, 3.0],
        }
    )
    return spark.createDataFrame(pdf)


def _ids(fdf, ast):
    from search_engine_spark.filters import to_column

    return sorted(r["id"] for r in fdf.filter(to_column(ast)).collect())


def test_eq_is_normalized(fdf):
    # reference normalizes string facets (NFKD + lowercase): 'EN' matches 'en'
    assert _ids(fdf, {"lang": "en"}) == [0, 1]
    assert _ids(fdf, {"lang": {"$eq": "EN"}}) == [0, 1]


def test_ne_includes_missing(fdf):
    # reference != includes docs whose field is NULL (filter.rs:270-311)
    assert _ids(fdf, {"lang": {"$ne": "en"}}) == [2, 3, 4, 5]


def test_ranges_correct_not_fork_bug(fdf):
    # F8: the fork maps $gte/$lte to GreaterThan (condition.rs:22,24);
    # we implement the CORRECT inclusive semantics
    assert _ids(fdf, {"stars": {"$gte": 4.0}}) == [3, 4]
    assert _ids(fdf, {"stars": {"$lte": 2.5}}) == [0, 1]
    assert _ids(fdf, {"stars": {"$between": [2.5, 4.0]}}) == [1, 3, 5]


def test_exists_null_empty(fdf):
    assert _ids(fdf, {"stars": {"$exists": True}}) == [0, 1, 3, 4, 5]
    assert _ids(fdf, {"stars": {"$exists": False}}) == [2]
    assert _ids(fdf, {"lang": {"$isEmpty": True}}) == [4]


def test_boolean_composition(fdf):
    ast = {"$or": [{"lang": "de"}, {"$and": [{"stars": {"$gt": 2.0}},
                                            {"lang": {"$ne": "fr"}}]}]}
    assert _ids(fdf, ast) == [1, 2, 3, 4]
    assert _ids(fdf, {"$not": {"lang": {"$in": ["en", "de"]}}}) == [3, 4, 5]


# -- to_arrow vs to_column (driver route vs cluster route) -----------------
NAN, INF = float("nan"), float("inf")
_SCHEMA = "docid long, lang string, stars double, n long, flag boolean"
_ROWS = [
    (0, "en", 1.0, 1, True),
    (1, "EN", 2.5, 2, False),
    (2, "De", None, 3, None),
    (3, None, 4.0, None, True),
    (4, "", 5.0, 5, False),
    (5, "  ", 3.0, 3, True),
    (6, "\t", NAN, 7, None),
    (7, "İstanbul", -0.0, 0, False),      # Spark lowers U+0130 to i + U+0307
    (8, "istanbul", INF, 9, True),
    (9, "ΟΔΟΣ", 2.0, -4, False),          # final sigma
    (10, "Émile", 2.5, 2, True),
    (11, "emile", None, None, None),
    (12, "ДЕ", 4.0, 12, False),
    (13, "\ua7cb", 1.5, 1, True),     # case pair added in Unicode 16
    (14, "straße", 3.0, 3, True),
    (15, "fr ", 0.5, 15, False),
    (16, " Fr", NAN, 16, True),
    (17, "de", 2.5, 2, False),
]

_DRIVER_ASTS = [
    {"lang": "en"},
    {"lang": {"$eq": "EN"}},
    {"lang": {"$ne": "en"}},
    {"lang": {"$in": ["en", "de", "istanbul"]}},
    {"lang": {"$in": []}},
    {"lang": "istanbul"},
    {"lang": "Émile"},                     # normalizes to ASCII 'emile'
    {"lang": {"$gt": "e"}},
    {"lang": {"$gte": "de"}},
    {"lang": {"$lt": "f"}},
    {"lang": {"$lte": "en"}},
    {"lang": {"$between": ["d", "F"]}},
    {"lang": {"$isEmpty": True}},
    {"lang": {"$isEmpty": False}},
    {"lang": {"$exists": True}},
    {"lang": {"$exists": False}},
    {"stars": {"$gt": 2.0}},
    {"stars": {"$gte": 4}},
    {"stars": {"$gte": INF}},
    {"stars": {"$lt": 3}},
    {"stars": {"$lte": 2.5}},
    {"stars": {"$between": [2.5, 4.0]}},
    {"stars": {"$in": [1, 2.5]}},
    {"stars": {"$ne": 3.0}},
    {"stars": {"$eq": 0}},
    {"stars": {"$exists": False}},
    {"stars": {"$isEmpty": False}},
    {"n": 3},
    {"n": {"$ne": 3}},
    {"n": {"$gt": 1.5}},
    {"n": {"$in": [1, 2.5, 12]}},
    {"n": {"$isEmpty": True}},
    {"flag": True},
    {"flag": {"$ne": False}},
    {"lang": "en", "stars": {"$gt": 1}},
    {"lang": {"$ne": "en", "$exists": True}},
    {"$or": [{"lang": "de"}, {"$and": [{"stars": {"$gt": 2.0}},
                                       {"lang": {"$ne": "fr"}}]}]},
    {"$not": {"lang": {"$in": ["en", "de"]}}},
    {"$not": {"$or": [{"stars": {"$lt": 3}}, {"n": {"$exists": False}}]}},
    {"$and": [{"$not": {"lang": "en"}},
              {"$or": [{"flag": True}, {"stars": {"$gte": 4}}]}]},
    {"$not": {"$not": {"stars": {"$gt": 2}}}},
]

# ASTs the driver refuses: the query takes the cluster route instead
_CLUSTER_ASTS = [
    {"lang": "οδος"},                      # Spark: final sigma; pyarrow: σ
    {"lang": "ДЕ"},
    {"lang": {"$in": ["en", "\ua7cd"]}},
    {"lang": {"$gt": "δ"}},
    {"lang": 5},
    {"stars": "4"},
    {"stars": NAN},
    {"lang": None},
    {"stars": {"$in": [1, "a"]}},
    {"$or": [{"lang": "en"}, {"n": {"$gt": "2"}}]},
]


@pytest.fixture(scope="module")
def stats_pair(spark):
    import pyarrow as pa

    sdf = spark.createDataFrame(_ROWS, _SCHEMA)
    tbl = pa.table(
        {name: [r[i] for r in _ROWS] for i, name in
         enumerate(["docid", "lang", "stars", "n", "flag"])},
        schema=pa.schema([("docid", pa.int64()), ("lang", pa.string()),
                          ("stars", pa.float64()), ("n", pa.int64()),
                          ("flag", pa.bool_())]),
    )
    return sdf, tbl


def _arrow_ids(tbl, ast):
    import pyarrow.dataset as ds

    from search_engine_spark.filters import to_arrow

    got = ds.dataset(tbl).to_table(filter=to_arrow(ast, tbl.schema))
    return sorted(got.column("docid").to_pylist())


@pytest.mark.parametrize("ast", _DRIVER_ASTS, ids=repr)
def test_to_arrow_matches_to_column(stats_pair, ast):
    sdf, tbl = stats_pair
    assert _arrow_ids(tbl, ast) == _ids(sdf.withColumnRenamed("docid", "id"), ast)


def test_to_arrow_refuses_what_spark_decides_differently(stats_pair):
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_engine_spark.filters import ArrowUnsupported, to_arrow

    sdf, tbl = stats_pair
    for ast in _CLUSTER_ASTS:
        with pytest.raises(ArrowUnsupported):
            to_arrow(ast, tbl.schema)
    # why non-ASCII literals are refused: the two lowercasings disagree
    assert _ids(sdf.withColumnRenamed("docid", "id"), {"lang": "οδος"}) == [9]
    assert pc.utf8_lower(pa.array(["ΟΔΟΣ"]))[0].as_py() != "οδος"


def test_unknown_filter_field_is_a_clear_error(stats_pair):
    from search_engine_spark.filters import ArrowUnsupported, to_arrow

    _, tbl = stats_pair
    with pytest.raises(ValueError, match="'colour'") as e:
        to_arrow({"$or": [{"lang": "en"}, {"colour": "red"}]}, tbl.schema)
    assert not isinstance(e.value, ArrowUnsupported)


def test_unknown_filter_field_on_both_routes(search_index):
    plan = search_index.plan("search engine", 5)
    bad = {"$and": [{"lang": "en"}, {"colour": {"$in": ["red"]}}]}
    with pytest.raises(ValueError, match="'colour'"):
        search_index.search_rows("search engine", k=5, filter_ast=bad)
    for execution in ("auto", "driver", "cluster"):
        with pytest.raises(ValueError, match="'colour'"):
            search_index.execute(plan, filter_ast=bad, execution=execution)


def test_filter_the_driver_refuses_takes_the_cluster_route(search_index):
    ix = search_index
    flt = {"$or": [{"lang": "de"}, {"lang": "δ"}]}   # non-ASCII literal
    plan = ix.plan("search engine", 10)
    with pytest.raises(ValueError, match="exactly"):
        ix.execute(plan, filter_ast=flt, execution="driver")
    ref = [r.asDict() for r in ix.execute(plan, filter_ast=flt,
                                          execution="cluster").collect()]
    got = ix.search_rows("search engine", k=10, filter_ast=flt)
    assert ref and [(r["docid"], round(r["score"], 6)) for r in got] == [
        (r["docid"], round(r["score"], 6)) for r in ref]
