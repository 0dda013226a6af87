"""The traced benchmark run (``perfbench/probes.py``) replays queries
through the query layer's private steps and names. These tests pin that
contract in the test suite, so a refactor that breaks a replay fails here
instead of only in a traced benchmark run."""

import os
from dataclasses import replace

import pytest

PERFBENCH = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench")


@pytest.fixture()
def probes(monkeypatch):
    monkeypatch.syspath_prepend(os.path.abspath(PERFBENCH))
    import probes

    return probes


@pytest.mark.parametrize("q, last", [
    ("search engine", False),
    ('"search engine" data', False),
    ("web search crawl", True),
])
def test_replay_driver_matches_search_rows(spark, index_dir, probes, q, last):
    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, index_dir)
    if last:  # replay_driver plans with the index's settings
        ix.settings = replace(ix.settings, matching_strategy="last")
        assert ix.plan(q, 10).word_groups
    rows, postings = probes.replay_driver(probes.Tracer(False), ix, q, 10)
    assert rows and postings > 0
    assert rows == ix.search_rows(q, 10)


@pytest.mark.parametrize("q", ["search engine", '"search engine" data -kabe'])
def test_replay_cluster_matches_execute(search_index, probes, q):
    plan = search_index.plan(q, 10)
    got = probes.replay_cluster(probes.Tracer(False), search_index, plan,
                                allowed=None, mode="exhaustive")
    want = [(r["docid"], r["score"]) for r in search_index.execute(
        plan, mode="exhaustive", execution="cluster").collect()]
    assert got and got == want
