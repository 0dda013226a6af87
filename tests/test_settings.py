"""Persisted per-index settings (reference ``src/update/settings.rs``):
synonyms / matching strategy / typo config live in meta.json, queries
default from them, and ``update_settings`` reindexes only when the change
is extraction-affecting."""

import shutil

import pandas as pd
import pytest


@pytest.fixture()
def settings_index(spark, tmp_path):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig, IndexSettings

    rows = [
        ("a", "spark engine query planner", "en"),
        ("b", "rapid table join", "en"),
        ("c", "quick window aggregate", "de"),
        ("d", "fast stream processor", "en"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    d = str(tmp_path / "sidx")
    build_index(
        spark, spark.createDataFrame(pdf), d, cfg,
        settings=IndexSettings(synonyms={"fast": ["quick", "rapid"]}),
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _pks(ix, q, **kw):
    return sorted(r["pk"] for r in ix.search(q, k=10, **kw).collect())


def test_settings_roundtrip_and_plan_defaults(spark, settings_index):
    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, settings_index)
    assert ix.settings.synonyms == {"fast": ["quick", "rapid"]}
    # stored synonyms are served WITHOUT a per-call argument
    assert _pks(ix, "fast") == ["b", "c", "d"]
    # explicit per-call override disables them
    assert _pks(ix, "fast", synonyms={}) == ["d"]
    # plan carries the stored synonyms as penalized scoring terms
    plan = ix.plan("fast")
    assert {"fast", "quick", "rapid"} <= set(plan.term_weights)


def test_update_settings_query_time_is_metadata_only(spark, settings_index):
    from search_engine_spark.index import IndexPaths, read_meta
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_settings

    before = read_meta(IndexPaths(settings_index))
    meta = update_settings(
        spark, settings_index,
        synonyms={"fast": ["rapid"]}, matching_strategy="last",
        typos_enabled=False,
    )
    # no rebuild: same build lineage, same docs
    assert meta["build_id"] == before["build_id"]
    assert meta["n_docs"] == before["n_docs"]
    ix = SearchIndex(spark, settings_index)
    assert ix.settings.matching_strategy == "last"
    assert _pks(ix, "fast") == ["b", "d"]  # quick no longer a synonym
    # typos disabled: a typo'd word expands to nothing but its exact form
    plan = ix.plan("sparc~")
    assert "spark" not in plan.term_weights


def test_update_settings_typo_thresholds(spark, settings_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_settings

    ix = SearchIndex(spark, settings_index)
    assert "spark" in ix.plan("sparc~").term_weights  # default: 1 typo at len>=4
    update_settings(spark, settings_index, typo_one_min_len=9)
    ix2 = SearchIndex(spark, settings_index)
    assert "spark" not in ix2.plan("sparc~").term_weights


def test_update_settings_extraction_change_reindexes(spark, settings_index):
    from search_engine_spark.index import IndexPaths, read_meta
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_settings

    before = read_meta(IndexPaths(settings_index))
    docids_before = {
        r["pk"]: r["docid"]
        for r in spark.read.parquet(IndexPaths(settings_index).doc_stats)
        .select("pk", "docid").collect()
    }
    meta = update_settings(spark, settings_index, store_positions=False)
    assert meta["build_id"] != before["build_id"]  # rebuilt
    assert meta["config"]["store_positions"] is False
    # settings survive the reindex
    assert meta["settings"]["synonyms"] == {"fast": ["quick", "rapid"]}
    docids_after = {
        r["pk"]: r["docid"]
        for r in spark.read.parquet(IndexPaths(settings_index).doc_stats)
        .select("pk", "docid").collect()
    }
    assert docids_after == docids_before  # docids preserved across reindex
    ix = SearchIndex(spark, settings_index)
    assert _pks(ix, "fast") == ["b", "c", "d"]  # stored synonyms still served
    with pytest.raises(ValueError):
        ix.search("spark engine", proximity=1.0).collect()


def test_update_settings_tuning_knob_no_reindex(spark, settings_index):
    from search_engine_spark.index import IndexPaths, read_meta
    from search_engine_spark.update import update_settings

    before = read_meta(IndexPaths(settings_index))
    meta = update_settings(spark, settings_index, extract_partitions=3)
    assert meta["build_id"] == before["build_id"]
    assert meta["config"]["extract_partitions"] == 3


def test_update_settings_rejects_unknown(spark, settings_index):
    from search_engine_spark.update import update_settings

    with pytest.raises(ValueError, match="unknown settings"):
        update_settings(spark, settings_index, no_such_setting=1)
