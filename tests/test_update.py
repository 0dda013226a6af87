"""Incremental index maintenance: upsert / delete / compact semantics
(reference T1-T4 re-expressed as segment generations + tombstones)."""

import shutil

import pandas as pd
import pytest


_SMALL_ROWS = [
    ("a", "spark index engine query", "en"),
    ("b", "spark table join", "en"),
    ("c", "window aggregate stream", "de"),
    ("d", "query planner optimizer", "en"),
]


@pytest.fixture()
def small_index(spark, tmp_path):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    pdf = pd.DataFrame(_SMALL_ROWS, columns=["url", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _pk_results(ix, q, **kw):
    return [(r["pk"], round(r["score"], 9)) for r in ix.search(q, k=10, **kw).collect()]


def test_append_makes_new_docs_searchable(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents

    new = spark.createDataFrame(
        pd.DataFrame([("e", "banana smoothie recipe", "fr")],
                     columns=["url", "text", "lang"])
    )
    meta = add_documents(spark, small_index, new)
    assert meta["n_docs"] == 5
    assert set(meta["generations"]) == {"0", "1"}
    ix = SearchIndex(spark, small_index)
    hits = _pk_results(ix, "banana")
    assert [p for p, _ in hits] == ["e"]
    # old docs still searchable, both modes agree across generations
    assert _pk_results(ix, "spark query", mode="wand") == _pk_results(
        ix, "spark query", mode="exhaustive"
    )


def test_replace_tombstones_old_version(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents

    new = spark.createDataFrame(
        pd.DataFrame([("b", "completely new content here", "en")],
                     columns=["url", "text", "lang"])
    )
    meta = add_documents(spark, small_index, new)
    assert meta["n_docs"] == 4  # replaced, not added
    assert meta["n_deleted"] == 1
    ix = SearchIndex(spark, small_index)
    # old content of b no longer matches
    assert "b" not in [p for p, _ in _pk_results(ix, "table join")]
    assert [p for p, _ in _pk_results(ix, "completely content")] == ["b"]
    # WAND (with tombstone skip + bound scaling) agrees with exhaustive
    for q in ("spark", "query engine", "completely new"):
        assert _pk_results(ix, q, mode="wand") == _pk_results(ix, q, mode="exhaustive")


def test_delete_documents(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import delete_documents

    meta = delete_documents(spark, small_index, ["a", "c"])
    assert meta["n_docs"] == 2 and meta["n_deleted"] == 2
    ix = SearchIndex(spark, small_index)
    pks = {p for p, _ in _pk_results(ix, "spark index engine window stream")}
    assert pks == {"b"}


def test_delete_by_filter(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import compact, delete_by_filter

    meta = delete_by_filter(spark, small_index, {"lang": "en"})
    assert meta["n_docs"] == 1 and meta["n_deleted"] == 3
    ix = SearchIndex(spark, small_index)
    pks = {p for p, _ in _pk_results(ix, "spark index engine window stream")}
    assert pks == {"c"}
    # compaction folds the filter-deletes like id-deletes
    meta = compact(spark, small_index)
    assert meta["n_deleted"] == 0 and meta["n_docs"] == 1
    ix = SearchIndex(spark, small_index)
    assert {p for p, _ in _pk_results(ix, "window stream")} == {"c"}


def test_overlapping_deletes_count_distinct_docids(spark, small_index):
    """Overlapping delete_by_filter / replace-then-delete flows append the
    same docid to the tombstone log more than once; n_deleted (and hence
    the frozen idf denominator n_docs + n_deleted) must count DISTINCT
    tombstoned docids, not raw tombstone rows."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import (
        add_documents, delete_by_filter, delete_documents,
    )

    # replace 'b' (tombstones its old docid) ...
    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("b", "replacement content", "en")],
                     columns=["url", "text", "lang"])))
    # ... then two overlapping filter deletes both match old docids
    meta = delete_by_filter(spark, small_index, {"lang": "en"})
    meta = delete_by_filter(spark, small_index, {"lang": "en"})
    # live: only c (de). tombstoned distinct docids: a, b(old), b(new), d
    assert meta["n_docs"] == 1
    assert meta["n_deleted"] == 4
    # delete_documents of an already-tombstoned pk resolves to docids that
    # are already tombstoned — count must not grow
    meta = delete_documents(spark, small_index, ["a"])
    assert meta["n_deleted"] == 4
    ix = SearchIndex(spark, small_index)
    assert ix.n_docs_indexed == 5  # 1 live + 4 distinct tombstoned


def test_compact_equals_clean_rebuild(spark, small_index, tmp_path):
    import os

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.index import IndexPaths
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, compact

    # no writer leaves the term_doc extraction spill behind
    spill = IndexPaths(small_index).term_doc
    assert not os.path.exists(spill)
    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("b", "fresh replacement text", "en"),
                      ("f", "spark streaming watermark", "en")],
                     columns=["url", "text", "lang"])))
    assert not os.path.exists(spill)
    meta = compact(spark, small_index)
    assert not os.path.exists(spill)
    assert meta["n_deleted"] == 0
    assert set(meta["generations"]) == {"0"}
    ix = SearchIndex(spark, small_index)

    # clean rebuild over the logically-equivalent corpus
    rows = [
        ("a", "spark index engine query", "en"),
        ("b", "fresh replacement text", "en"),
        ("c", "window aggregate stream", "de"),
        ("d", "query planner optimizer", "en"),
        ("f", "spark streaming watermark", "en"),
    ]
    clean_dir = str(tmp_path / "clean")
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    build_index(spark, spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text", "lang"])), clean_dir, cfg)
    clean = SearchIndex(spark, clean_dir)

    assert ix.n_docs == clean.n_docs
    assert abs(ix.avgdl - clean.avgdl) < 1e-9
    for q in ("spark", "query engine", "fresh replacement", "watermark", "stream"):
        a = _pk_results(ix, q)
        b = _pk_results(clean, q)
        assert a == b, (q, a, b)
        assert _pk_results(ix, q, mode="wand") == a
    shutil.rmtree(clean_dir, ignore_errors=True)


def test_reindex_with_new_settings(spark, small_index):
    """T8: settings change triggers a rebuild from the document store;
    docids survive, results identical modulo the changed setting."""
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import reindex

    before = SearchIndex(spark, small_index)
    ranked_before = _pk_results(before, "spark query")
    ids_before = {r["pk"]: r["docid"]
                  for r in spark.read.parquet(small_index + "/docs")
                  .select("pk", "docid").collect()}

    new_cfg = IndexConfig(attr_cols=("lang",), num_shards=3, num_buckets=4,
                          block_size=2, store_positions=True)
    meta = reindex(spark, small_index, new_cfg)
    assert meta["config"]["num_buckets"] == 4

    after = SearchIndex(spark, small_index)
    assert _pk_results(after, "spark query") == ranked_before
    ids_after = {r["pk"]: r["docid"]
                 for r in spark.read.parquet(small_index + "/docs")
                 .select("pk", "docid").collect()}
    assert ids_after == ids_before
    # phrase works because the new settings store positions
    assert after.search('"spark index"', k=5).collect()


def test_update_documents_merges_fields(spark, small_index):
    """Reference T2 UpdateDocuments (merge_functions.rs:47-161): a partial
    row updates only the fields it carries; the rest keep stored values."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_documents

    # change ONLY the lang of doc b; its text must survive the merge
    partial = spark.createDataFrame(
        pd.DataFrame([("b", "fr")], columns=["url", "lang"])
    )
    meta = update_documents(spark, small_index, partial)
    assert meta["n_docs"] == 4  # still four live docs
    ix = SearchIndex(spark, small_index)
    hits = _pk_results(ix, "table join")
    assert "b" in [p for p, _ in hits], "b's text must be preserved"
    fr_hits = ix.search("table join", k=10, filter_ast={"lang": "fr"}).collect()
    assert [r["pk"] for r in fr_hits] == ["b"]


def test_update_documents_text_only_keeps_attrs(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_documents

    partial = spark.createDataFrame(
        pd.DataFrame([("c", "fresh replacement words")],
                     columns=["url", "text"])
    )
    update_documents(spark, small_index, partial)
    ix = SearchIndex(spark, small_index)
    hits = ix.search("fresh replacement", k=10,
                     filter_ast={"lang": "de"}).collect()
    assert [r["pk"] for r in hits] == ["c"], "attr lang=de must be preserved"
    assert _pk_results(ix, "window aggregate") == [] or all(
        p != "c" for p, _ in _pk_results(ix, "window aggregate")
    ), "old text of c must be gone"


def test_update_documents_inserts_new_pk(spark, small_index):
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_documents

    partial = spark.createDataFrame(
        pd.DataFrame([("z", "zebra crossing")], columns=["url", "text"])
    )
    meta = update_documents(spark, small_index, partial)
    assert meta["n_docs"] == 5
    ix = SearchIndex(spark, small_index)
    assert [p for p, _ in _pk_results(ix, "zebra")] == ["z"]
    z = ix.search("zebra", k=1).collect()[0]
    stats = ix._doc_stats.filter(f"docid = {z['docid']}").collect()[0]
    assert stats["lang"] is None  # absent field -> NULL for a new doc


def test_update_documents_rejects_unknown_columns(spark, small_index):
    from search_engine_spark.update import update_documents

    partial = spark.createDataFrame(
        pd.DataFrame([("b", 1)], columns=["url", "bogus"])
    )
    with pytest.raises(ValueError, match="unknown columns"):
        update_documents(spark, small_index, partial)


def test_delete_heavy_broadcast_tombstones(spark, tmp_path):
    """Delete-heavy invariance: tombstone 40% of a 200-doc corpus and the
    cluster-path scorer (tombstones via Spark broadcast, not task closures)
    must return exactly what a clean rebuild over the survivors returns."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import delete_documents

    words = ["spark", "index", "table", "join", "query", "stream",
             "window", "engine", "plan", "scan"]
    rows = [
        (f"u{i}", " ".join(words[(i + j) % len(words)] for j in range(6)), "en")
        for i in range(200)
    ]
    pdf = pd.DataFrame(rows, columns=["url", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    full_dir = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(pdf), full_dir, cfg)
    doomed = [f"u{i}" for i in range(200) if i % 5 in (1, 3)]  # 40%
    meta = delete_documents(spark, full_dir, doomed)
    assert meta["n_deleted"] == len(doomed)

    ix = SearchIndex(spark, full_dir)
    assert ix._deleted_bc is not None and len(ix._deleted_bc.value) == len(doomed)

    clean_dir = str(tmp_path / "clean")
    build_index(
        spark,
        spark.createDataFrame(pdf[~pdf["url"].isin(set(doomed))]),
        clean_dir, cfg,
    )
    clean = SearchIndex(spark, clean_dir)
    for q in ("spark table", "query stream window", "engine join"):
        for mode in ("wand", "exhaustive"):
            got = [p for p, _ in _pk_results(ix, q, mode=mode,
                                             execution="cluster")]
            want = [p for p, _ in _pk_results(clean, q, mode=mode,
                                              execution="cluster")]
            assert got == want, (q, mode, got, want)
    shutil.rmtree(full_dir, ignore_errors=True)
    shutil.rmtree(clean_dir, ignore_errors=True)


def test_delete_majority_of_term_docs_keeps_idf_sane(spark, tmp_path):
    """Regression: deleting more than half of a term's docs must not flip its
    idf negative (idf is computed over the indexed count = live + tombstoned,
    matching the stale df — Lucene semantics). Before the fix, live-count idf
    went negative for majority-deleted terms, inverting ranking and breaking
    the WAND/MaxScore nonnegative-bound invariant (wand != exhaustive)."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import delete_documents

    # 12 docs, all contain "alpha"; 6 also contain "beta". Delete 8 docs,
    # among them 4 of the 6 beta docs: stale df(beta)=6 > live n_docs=4.
    rows = []
    for i in range(12):
        text = "alpha common filler words here"
        if i < 6:
            text += " beta"
        rows.append((f"u{i}", text, "en"))
    pdf = pd.DataFrame(rows, columns=["url", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    delete_documents(spark, d, [f"u{i}" for i in (0, 1, 2, 3, 6, 7, 8, 9)])

    ix = SearchIndex(spark, d)
    wand = _pk_results(ix, "alpha beta", mode="wand")
    exh = _pk_results(ix, "alpha beta", mode="exhaustive")
    assert wand == exh, (wand, exh)
    assert all(s > 0 for _, s in wand)
    # the two surviving beta docs must outrank the alpha-only survivors
    assert {p for p, _ in wand[:2]} == {"u4", "u5"}, wand
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def docid_index(spark, tmp_path):
    """Index with externally-managed docids (docid_col) for replacement
    semantics under generation-horizon tombstones."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    rows = [
        (0, "k0", "spark index engine query", "en"),
        (1, "k1", "spark table join", "en"),
        (2, "k2", "window aggregate stream", "de"),
        (3, "k3", "query planner optimizer", "en"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "url", "text", "lang"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      docid_col="doc_id", attr_cols=("lang",),
                      num_shards=2, num_buckets=2)
    d = str(tmp_path / "didx")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_docid_col_replacement_in_place(spark, docid_index):
    """Generation-horizon tombstones: replacing a doc that reuses its
    external docid kills only the OLD generations — the new version stays
    live under the same docid, in every mode and in the doc snapshot."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents

    new = spark.createDataFrame(
        pd.DataFrame([(1, "k1", "fresh banana recipe content", "fr")],
                     columns=["doc_id", "url", "text", "lang"])
    )
    meta = add_documents(spark, docid_index, new)
    assert meta["n_docs"] == 4            # replaced, not added
    assert meta["n_deleted"] == 1         # the superseded version
    ix = SearchIndex(spark, docid_index)
    # old content gone, new content searchable under the SAME docid
    assert _pk_results(ix, "table join") == []  # 'table'/'join' only in old k1
    hits = ix.search("banana recipe", k=5).collect()
    assert [(r["pk"], r["docid"]) for r in hits] == [("k1", 1)]
    # wand/maxscore fall back safely under horizon tombstones
    for mode in ("wand", "maxscore", "exhaustive"):
        assert _pk_results(ix, "spark query", mode=mode) == _pk_results(
            ix, "spark query", mode="exhaustive"), mode
    # attribute filter sees the NEW version's attrs, not the dead one's
    assert [r["pk"] for r in
            ix.search("banana", k=5, filter_ast={"lang": "fr"}).collect()] == ["k1"]
    assert ix.search("banana", k=5, filter_ast={"lang": "en"}).collect() == []
    # doc snapshot fetch returns exactly the new version
    res = ix.search("banana", k=1)
    fetched = ix.fetch_documents(res).collect()
    assert len(fetched) == 1 and fetched[0]["text"].startswith("fresh banana")


def test_docid_col_replace_twice_then_compact(spark, docid_index, tmp_path):
    """Two in-place replacements stack horizons correctly; compact folds to
    a clean single-generation index equal to a fresh rebuild, down to the
    rows of its postings and dictionary."""
    from test_build_resume import _digests

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, compact

    for text in ("first replacement text", "second replacement text final"):
        add_documents(spark, docid_index, spark.createDataFrame(
            pd.DataFrame([(2, "k2", text, "en")],
                         columns=["doc_id", "url", "text", "lang"])
        ))
    ix = SearchIndex(spark, docid_index)
    assert _pk_results(ix, "window aggregate") == []
    assert _pk_results(ix, "first") == []  # word unique to replacement #1
    assert [p for p, _ in _pk_results(ix, "second final")] == ["k2"]
    assert ix.n_docs == 4

    meta = compact(spark, docid_index)
    assert meta["n_deleted"] == 0 and meta["n_docs"] == 4
    ix2 = SearchIndex(spark, docid_index)
    assert [p for p, _ in _pk_results(ix2, "second final")] == ["k2"]
    # equal to a clean rebuild over the final corpus
    rows = [
        (0, "k0", "spark index engine query", "en"),
        (1, "k1", "spark table join", "en"),
        (2, "k2", "second replacement text final", "en"),
        (3, "k3", "query planner optimizer", "en"),
    ]
    clean = str(tmp_path / "clean")
    build_index(spark, spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "url", "text", "lang"])),
        clean,
        IndexConfig(text_col="text", pk_col="url", ts_col=None,
                    docid_col="doc_id", attr_cols=("lang",),
                    num_shards=2, num_buckets=2))
    cx = SearchIndex(spark, clean)
    for q in ("spark query", "second final", "planner"):
        assert _pk_results(ix2, q) == _pk_results(cx, q), q
    got, want = _digests(docid_index), _digests(clean)
    for name in ("postings", "terms"):
        assert got[name] == want[name], name
    shutil.rmtree(clean, ignore_errors=True)


def test_docid_col_delete_then_readd(spark, docid_index):
    """Delete kills every existing generation; a later re-add of the same
    external docid lands in a NEWER generation and is live again."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, delete_documents

    delete_documents(spark, docid_index, ["k3"])
    ix = SearchIndex(spark, docid_index)
    assert _pk_results(ix, "planner optimizer") == []
    add_documents(spark, docid_index, spark.createDataFrame(
        pd.DataFrame([(3, "k3", "resurrected planner doc", "en")],
                     columns=["doc_id", "url", "text", "lang"])
    ))
    ix2 = SearchIndex(spark, docid_index)
    assert [p for p, _ in _pk_results(ix2, "resurrected planner")] == ["k3"]
    assert ix2.n_docs == 4


def test_append_rank_mode_equals_window(spark, tmp_path):
    """Appended docids are max_docid + 1 + the rank of pk within the batch
    (the two-pass range rank), whatever the batch's partitioning."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents

    base = pd.DataFrame(
        [("a0", "base document text", "en")], columns=["url", "text", "lang"]
    )
    batch = pd.DataFrame(
        [(f"b{(i * 37) % 97:03d}", f"appended doc number {i}", "en")
         for i in range(97)],
        columns=["url", "text", "lang"],
    )
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      attr_cols=("lang",), num_shards=2, num_buckets=2)
    expected = {"a0": 0, **{pk: 1 + i for i, pk in enumerate(sorted(batch["url"]))}}
    for parts in (1, 7):
        d = str(tmp_path / f"p{parts}")
        build_index(spark, spark.createDataFrame(base), d, cfg)
        add_documents(spark, d, spark.createDataFrame(batch).repartition(parts))
        stats = spark.read.parquet(SearchIndex(spark, d).paths.doc_stats)
        got = {r["pk"]: r["docid"] for r in stats.select("pk", "docid").collect()}
        assert got == expected, parts
        shutil.rmtree(d, ignore_errors=True)


def test_phrase_docids_skips_tombstoned_docs(spark, small_index, docid_index):
    """phrase_docids drops deleted documents (full tombstones on a
    rank-docid index) and replaced versions (generation-horizon tombstones
    on a docid_col index), like matching_docids."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, delete_documents

    def phrase(d, words):
        return [r["docid"] for r in
                SearchIndex(spark, d).phrase_docids(words).collect()]

    # rank-assigned docids: a=0, b=1, c=2, d=3
    assert phrase(small_index, ["spark", "table"]) == [1]
    delete_documents(spark, small_index, ["b"])
    assert phrase(small_index, ["spark", "table"]) == []
    assert phrase(small_index, ["spark", "index"]) == [0]

    assert phrase(docid_index, ["spark", "table"]) == [1]
    add_documents(spark, docid_index, spark.createDataFrame(
        pd.DataFrame([(1, "k1", "table spark rewritten", "en")],
                     columns=["doc_id", "url", "text", "lang"])))
    assert phrase(docid_index, ["spark", "table"]) == []
    assert phrase(docid_index, ["table", "spark"]) == [1]


def test_parent_format_index_stays_usable(spark, small_index):
    """Indexes written before the dictionary lost its term_id column,
    IndexConfig lost its path selectors and finished indexes lost their
    term_doc spill keep opening, serving, appending and compacting; the
    retired names are not settable, and compact removes the stale spill."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from search_engine_spark.config import RETIRED_CONFIG_FIELDS
    from search_engine_spark.index import IndexPaths
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, compact, update_settings

    queries = ("spark", "query engine", "window", '"spark table"')

    def rows(ix):
        return {q: [(r["pk"], round(r["score"], 9)) for r in ix.search_rows(q, k=10)]
                for q in queries}

    before = rows(SearchIndex(spark, small_index))
    paths = IndexPaths(small_index)
    with open(paths.meta) as f:
        meta = json.load(f)
    retired = dict(
        term_rank_mode="auto", term_window_max_terms=10_000_000,
        append_rank_mode="auto", append_window_max_docs=5_000_000,
        stage1_staging="auto", encode_salt=None,
    )
    assert set(retired) == RETIRED_CONFIG_FIELDS
    meta["config"].update(retired)
    with open(paths.meta, "w") as f:
        json.dump(meta, f)
    gen0 = paths.gen_dir(paths.terms, 0)
    t = ds.dataset(gen0, format="parquet").to_table().sort_by("term")
    t = t.add_column(1, "term_id", pa.array(range(t.num_rows), pa.int32()))
    shutil.rmtree(gen0)
    os.makedirs(gen0)
    pq.write_table(t, os.path.join(gen0, "part-00000.parquet"))
    spill0 = paths.gen_dir(paths.term_doc, 0)
    os.makedirs(spill0)
    pq.write_table(t, os.path.join(spill0, "part-00000.parquet"))

    ix = SearchIndex(spark, small_index)
    assert rows(ix) == before

    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("e", "spark banana smoothie", "fr")],
                     columns=["url", "text", "lang"])))
    gen1 = ds.dataset(paths.gen_dir(paths.terms, 1), format="parquet")
    assert "term_id" not in gen1.schema.names
    assert os.listdir(paths.term_doc) == ["gen=0"]  # the append's spill is gone
    ix = SearchIndex(spark, small_index)
    assert [p for p, _ in _pk_results(ix, "banana")] == ["e"]
    vocab = {w for _, text, _ in _SMALL_ROWS for w in text.split()}
    n_terms = len(vocab | {"spark", "banana", "smoothie"})
    stats = {r["stat"]: r["value"] for r in ix.stats().collect()}
    assert stats["n_terms"] == n_terms

    meta = compact(spark, small_index)
    assert meta["n_terms"] == n_terms
    assert not os.path.exists(paths.term_doc)
    assert not RETIRED_CONFIG_FIELDS & set(meta["config"])
    assert [p for p, _ in _pk_results(SearchIndex(spark, small_index), "banana")] == ["e"]
    with pytest.raises(ValueError, match="unknown settings"):
        update_settings(spark, small_index, term_rank_mode="rank")


def test_rank_docid_tombstones_stay_full(spark, small_index):
    """Replacements and deletes on a rank-assigned-docid index must stamp
    dead-everywhere tombstones: a horizon <= max_gen classifies as
    'partial' and silently forces every query onto the exhaustive scorer
    (WAND/MaxScore off) until compact(). Only docid_col indexes can ever
    re-add a docid into a newer generation, so only they need finite
    horizons."""
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, delete_documents

    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("b", "completely new content here", "en")],
                     columns=["url", "text", "lang"])))
    delete_documents(spark, small_index, ["c"])
    # a later append raises max_gen past the earlier tombstones' gens —
    # the regression had horizon=gen stamps turn partial exactly here
    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("f", "fresh appended text", "en")],
                     columns=["url", "text", "lang"])))
    ix = SearchIndex(spark, small_index)
    assert ix._partial_tombs is None, "tombstones must classify as FULL"
    assert len(ix._deleted) == 2
    for q in ("spark", "completely new", "fresh"):
        assert _pk_results(ix, q, mode="wand") == _pk_results(
            ix, q, mode="exhaustive")
    assert "c" not in [p for p, _ in _pk_results(ix, "window aggregate")]
    assert "b" not in [p for p, _ in _pk_results(ix, "table join")]


def test_update_settings_equal_value_no_reindex(spark, tmp_path, monkeypatch):
    """Passing semantically-equal config values (nested lists vs the stored
    tuples) to update_settings must be a no-op, not a spurious full
    reindex: the diff compares AFTER from_dict normalization."""
    from search_engine_spark import update
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    pdf = pd.DataFrame([("a", "alpha text", "src one"),
                        ("b", "beta text", "src two")],
                       columns=["url", "text", "source"])
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      field_cols=(("text", 1), ("source", 2)),
                      num_shards=2, num_buckets=2)
    d = str(tmp_path / "idx_fc")
    build_index(spark, spark.createDataFrame(pdf), d, cfg)

    def boom(*a, **k):
        raise AssertionError("spurious reindex on an equal-value diff")

    monkeypatch.setattr(update, "reindex", boom)
    meta = update.update_settings(
        spark, d, field_cols=[["text", 1], ["source", 2]], attr_cols=[])
    assert tuple(map(tuple, meta["config"]["field_cols"])) == (
        ("text", 1), ("source", 2))


def test_mutations_on_pre_generation_index(spark, small_index):
    """Indexes written before the gen column existed must stay mutable:
    update paths default a missing/NULL gen to 0 (the query path's
    fallback), including the mixed-dir case where appended files carry gen
    but legacy files don't."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from search_engine_spark.index import IndexPaths
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, delete_documents

    paths = IndexPaths(small_index)
    for p in (paths.docs, paths.doc_stats):
        t = ds.dataset(p, format="parquet").to_table()
        if "gen" in t.column_names:
            t = t.drop_columns(["gen"])
        shutil.rmtree(p)
        os.makedirs(p)
        pq.write_table(t, os.path.join(p, "part-00000.parquet"))

    delete_documents(spark, small_index, ["c"])
    add_documents(spark, small_index, spark.createDataFrame(
        pd.DataFrame([("e", "banana smoothie recipe", "fr")],
                     columns=["url", "text", "lang"])))
    ix = SearchIndex(spark, small_index)
    assert "c" not in [p for p, _ in _pk_results(ix, "window aggregate")]
    assert [p for p, _ in _pk_results(ix, "banana")] == ["e"]
    assert _pk_results(ix, "spark query", mode="wand") == _pk_results(
        ix, "spark query", mode="exhaustive")


_VOCAB = ("spark index engine query table join window stream planner "
          "optimizer aggregate shuffle").split()
_LANGS = ("en", "de", "fr")


@pytest.fixture()
def churned_index(spark, tmp_path):
    """docid_col index with three generations, deletes, and in-place
    replacements (one docid replaced twice) that move docs to another
    lang and put 'banana' in their new text."""
    import numpy as np

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.update import add_documents, delete_documents

    rng = np.random.default_rng(11)

    def batch(ids, shift, prefix=""):
        rows = [(i, f"k{i}",
                 prefix + " ".join(rng.choice(_VOCAB, int(rng.integers(2, 8)))),
                 _LANGS[(i + shift) % 3], float(i % 5)) for i in ids]
        return spark.createDataFrame(pd.DataFrame(
            rows, columns=["doc_id", "url", "text", "lang", "stars"]))

    cfg = IndexConfig(text_col="text", pk_col="url", ts_col=None,
                      docid_col="doc_id", attr_cols=("lang", "stars"),
                      num_shards=2, num_buckets=2)
    d = str(tmp_path / "churn")
    build_index(spark, batch(range(40), 0), d, cfg)
    add_documents(spark, d, batch([*range(40, 50), 5, 8], 1, "banana "))
    # a docid_col delete is dead in the generations that exist when it is
    # made: k3's tombstone becomes a horizon one once gen 2 exists, k11's
    # and k42's stay dead everywhere
    delete_documents(spark, d, ["k3"])
    add_documents(spark, d, batch([5, 6, 7, 20, 41], 2, "banana recipe "))
    delete_documents(spark, d, ["k11", "k42"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_filtered_driver_route_rank_identical_to_cluster(spark, churned_index,
                                                         monkeypatch):
    """Filtered ``search_rows`` now scores on the driver; it must equal the
    cluster route's filtered exhaustive scoring on an index with several
    generations, plain deletes and in-place replacements that change the
    filtered attribute (only the newest version's attrs may count)."""
    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, churned_index)
    assert len(ix._deleted) and ix._partial_tombs is not None
    assert len(ix.gen_avgdl) == 3
    filters = [
        {"lang": "fr"},
        {"lang": "en"},
        {"lang": {"$ne": "de"}},
        {"lang": {"$in": ["de", "fr"]}},
        {"$not": {"lang": "en"}},
        {"$and": [{"lang": {"$ne": "fr"}}, {"stars": {"$gte": 2}}]},
        {"$or": [{"lang": "de"}, {"stars": {"$lt": 1}}]},
    ]
    queries = ["banana recipe", "spark query", "window stream planner"]
    want = {}
    for q in queries:
        plan = ix.plan(q, 50)
        for i, f in enumerate(filters):
            want[q, i] = [r.asDict() for r in ix.execute(
                plan, mode="exhaustive", filter_ast=f,
                execution="cluster").collect()]

    def cluster_route(*a, **kw):
        raise AssertionError("filtered search_rows left the driver route")

    monkeypatch.setattr(ix, "execute", cluster_route)
    for (q, i), ref in want.items():
        got = ix.search_rows(q, k=50, filter_ast=filters[i])
        assert [r["docid"] for r in got] == [r["docid"] for r in ref], (q, i)
        assert [round(r["score"], 6) for r in got] == [
            round(r["score"], 6) for r in ref], (q, i)
        assert [r["pk"] for r in got] == [r["pk"] for r in ref], (q, i)
        page = ix.search_rows(q, k=3, offset=2, filter_ast=filters[i])
        assert [r["docid"] for r in page] == [r["docid"] for r in ref[2:5]]
    # docs 5, 8 and 20 were 'fr' before their replacements: the dead
    # versions' attrs must not let them through
    fr = {r["docid"] for r in ix.search_rows("banana", k=50,
                                             filter_ast={"lang": "fr"})}
    assert fr and not fr & {5, 8, 20}


def test_score_details_on_mutated_index(spark, churned_index):
    """score_details reads the exhaustive scorer's own parts, so on an index
    with three generations, full deletes and in-place replacements it
    returns exactly the search top-k, and each doc's parts sum to its
    score, for every score-shaping feature."""
    import math

    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, churned_index)
    assert len(ix._deleted) and ix._partial_tombs is not None
    q = "banana recipe spark query"
    for kw in ({}, {"proximity": 1.0},
               {"proximity": 1.0, "proximity_mode": "cost"},
               {"exactness": 2.0}, {"matching_strategy": "last"}):
        top = {r["docid"]: r["score"]
               for r in ix.search(q, k=10, **kw).collect()}
        sums: dict[int, float] = {}
        for r in ix.score_details(q, k=10, **kw).collect():
            sums[r["docid"]] = sums.get(r["docid"], 0.0) + r["part"]
        assert top and set(sums) == set(top), kw
        for d, s in top.items():
            assert math.isclose(sums[d], s, rel_tol=1e-9), (kw, d, s, sums[d])


def _served(spark, index_dir):
    """n_docs and (docid, pk, 9-decimal score) rows of plain and
    lang-filtered queries on the driver route and the cluster route."""
    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, index_dir)
    out = {"n_docs": ix.n_docs}
    for q in ("banana recipe", "spark query", "window stream planner"):
        for f in (None, {"lang": "fr"}):
            out[q, "driver", str(f)] = [
                (r["docid"], r["pk"], round(r["score"], 9))
                for r in ix.search_rows(q, k=50, filter_ast=f)]
            out[q, "cluster", str(f)] = [
                (r["docid"], r["pk"], round(r["score"], 9))
                for r in ix.search(q, k=50, filter_ast=f,
                                   execution="cluster").collect()]
    return out


@pytest.mark.parametrize("store", ["docs", "doc_stats", "terms", "postings"])
def test_failed_compact_keeps_serving(spark, churned_index, monkeypatch,
                                      store):
    """compact stages every store before it replaces any: a compact that
    fails while staging one leaves the index serving what it served
    before, on both routes, and the next compact clears its leftovers."""
    import os

    from search_engine_spark import update

    before = _served(spark, churned_index)
    real = update.staged_write

    def failing(target):
        rel = os.path.relpath(target, churned_index)
        if rel.split(os.sep)[0].split(".")[0] == store:
            raise OSError(f"injected staging failure under {store}")
        return real(target)

    monkeypatch.setattr(update, "staged_write", failing)
    with pytest.raises(OSError, match="injected"):
        update.compact(spark, churned_index)
    assert _served(spark, churned_index) == before
    monkeypatch.undo()
    update.compact(spark, churned_index)
    assert not [n for n in os.listdir(churned_index) if ".compact" in n]


def test_compacted_rows_equal_clean_build(spark, churned_index, tmp_path):
    """compact merges the postings of three generations under full and
    generation-horizon tombstones into exactly the postings and dictionary
    rows a clean build of the live documents writes."""
    from test_build_resume import _digests

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.index import IndexPaths
    from search_engine_spark.update import (
        _filter_dead,
        _read_with_gen,
        _tombstones_df,
        compact,
    )

    paths = IndexPaths(churned_index)
    live = _filter_dead(_read_with_gen(spark, paths.docs),
                        _tombstones_df(spark, paths)).drop("gen").toPandas()
    compact(spark, churned_index)
    clean = str(tmp_path / "clean")
    build_index(spark, spark.createDataFrame(live), clean, IndexConfig(
        text_col="text", pk_col="pk", ts_col=None, docid_col="docid",
        attr_cols=("lang", "stars"), num_shards=2, num_buckets=2))
    got, want = _digests(churned_index), _digests(clean)
    for name in ("postings", "terms"):
        assert got[name] == want[name], name


def _batch_vs_rows(spark, ix, queries, group, **kw):
    """search_many over ``queries`` -> (per-query rows, per-query
    search_rows rows, Spark jobs search_many ran, result schema), rows as
    (rank, docid, pk, 9-decimal score)."""
    def key(rows):
        return [(r["rank"], r["docid"], r["pk"], round(r["score"], 9))
                for r in rows]

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = ix.search_many(list(enumerate(queries)), k=10, **kw)
        got_rows = res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    by: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        by.setdefault(r["query_id"], []).append(r)
    got = [key(by.get(i, [])) for i in range(len(queries))]
    want = [key(ix.search_rows(q, k=10, **kw)) for q in queries]
    return got, want, jobs, res.schema


def test_search_many_equals_search_rows(spark, churned_index, index_dir):
    """search_many plans every query with plan() and scores it with the
    serving kernels, so each query's rows equal search_rows' on both
    branches (driver point read; one shard job when the batch's postings
    exceed driver_exec_max_postings), for the full query grammar, on an
    index with three generations, full and generation-horizon tombstones;
    and it honours the index settings (matching_strategy='last')."""
    from dataclasses import replace

    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, churned_index)
    assert len(ix._deleted) and ix._partial_tombs is not None
    ix._local_dict()  # plan() then runs no Spark job
    queries = ["banana recipe spark", '"banana recipe"', "spark -query",
               "opti*", "planer~", "zzqqnotaword", "window zzqqnotaword",
               "stream shuffle join"]
    schemas = set()
    for budget, driver in ((ix.driver_exec_max_postings, True), (0, False)):
        ix.driver_exec_max_postings = budget
        for match_all in (False, True):
            got, want, jobs, schema = _batch_vs_rows(
                spark, ix, queries, f"many-{budget}-{match_all}",
                match_all=match_all)
            assert got == want, (budget, match_all)
            assert (jobs == 0) == driver, (budget, match_all, jobs)
            assert any(want) and not want[5]
            schemas.add(schema.json())
    assert len(schemas) == 1  # both branches, nullability included
    last = SearchIndex(spark, index_dir)
    last.settings = replace(last.settings, matching_strategy="last")
    queries = ["web search zzqqnotaword", "crawl data page", "the engine"]
    for budget in (last.driver_exec_max_postings, 0):
        last.driver_exec_max_postings = budget
        got, want, _, _ = _batch_vs_rows(spark, last, queries, f"last-{budget}")
        assert got == want and all(want), budget


def _surface_rows(spark, ix, calls, group):
    """Run every ``(name, call)`` of ``calls`` as ``call(ix)`` and collect
    it in its own job group -> {name: (schema json, rows)} and {name: Spark
    jobs run}."""
    sc = spark.sparkContext
    rows, jobs = {}, {}
    for name, call in calls:
        g = f"{group}-{name}"
        sc.setJobGroup(g, g)
        try:
            df = call(ix)
            rows[name] = (df.schema.json(), [tuple(r) for r in df.collect()])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(g))
    return rows, jobs


_SURFACE_CASES = (
    dict(
        phrases=[["banana", "recipe"], ["recipe", "banana"], ["spark", "query"],
                 ["window", "stream", "planner"], ["banana", "zzqq"]],
        terms=[["banana"], ["spark", "query"], ["recipe", "zzqq"], ["zzqq"]],
        sorted=[("banana -recipe", None), ('"banana recipe"', {"lang": "fr"}),
                ("spark query", None), ("spark -query", {"stars": {"$gte": 2}})],
        sort=[("stars", "desc")],
        prefixes=["s", "ba", "zz"],
        suggest="banan recipee join zzzzzz opt* shufle",
        suggest_want={"banan": ("banana", 1), "recipee": ("recipe", 1),
                      "join": ("join", 0), "shufle": ("shuffle", 1)},
    ),
    dict(
        phrases=[["web", "page"], ["the", "web"], ["search", "engine"],
                 ["page", "the", "web"], ["zzqq", "web"]],
        terms=[["web"], ["search", "engine", "crawl"], ["the", "zzqq"]],
        sorted=[("web search", None), ("page -web", {"lang": "en"}),
                ('"web page"', None), ("crawl", {"lang": "en"})],
        sort=[("lang", "asc"), ("warc_ts", "desc")],
        prefixes=["se", "pag", "zzz"],
        suggest="serch engien web zzzzzz the pag*",
        suggest_want={"serch": ("search", 1), "web": ("web", 0),
                      "the": ("the", 0)},
    ),
)


def test_per_result_surfaces_equal_across_routes(spark, churned_index,
                                                 index_dir):
    """phrase_docids, matching_docids, search_sorted(query=...),
    expand_prefix_df and suggest return the same rows and schema on the
    driver route and on the Spark route (driver_exec_max_postings = 0 and
    _local_dict_max_terms = 0), on an index with three generations, full
    and generation-horizon tombstones, and on the 400-doc fixture. On the
    driver route the docid sets and the dictionary surfaces run no Spark
    job; the docid sets equal a token scan of the live documents' text;
    suggest honours typos_enabled=False."""
    from search_engine_spark.analysis import tokenize_with_positions
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import update_settings

    def routes(d, calls, group):
        driver = SearchIndex(spark, d)
        driver._local_dict()  # the dictionary surfaces then run no Spark job
        cluster = SearchIndex(spark, d)
        cluster.driver_exec_max_postings = 0
        cluster._local_dict_max_terms = 0
        got, driver_jobs = _surface_rows(spark, driver, calls, group + "-d")
        want, cluster_jobs = _surface_rows(spark, cluster, calls, group + "-c")
        assert got == want
        assert all(cluster_jobs.values()), cluster_jobs
        return got, driver_jobs, driver

    def has_phrase(toks, words):
        occ = set(toks)
        return any(all((w, p + i) in occ for i, w in enumerate(words))
                   for t, p in toks if t == words[0])

    for d, case in zip((churned_index, index_dir), _SURFACE_CASES):
        free = (
            [(f"phrase {ph}", lambda ix, ph=ph: ix.phrase_docids(ph))
             for ph in case["phrases"]]
            + [(f"match {ts}", lambda ix, ts=ts: ix.matching_docids(ts))
               for ts in case["terms"]]
            + [(f"prefix {p}", lambda ix, p=p: ix.expand_prefix_df(p))
               for p in case["prefixes"]]
            + [("suggest", lambda ix, q=case["suggest"]: ix.suggest(q))]
        )
        ranked = [(f"sorted {q} {f}", lambda ix, q=q, f=f: ix.search_sorted(
            case["sort"], query=q, k=10, filter_ast=f))
            for q, f in case["sorted"]]
        got, jobs, ix = routes(d, free + ranked, "surf")
        assert not any(jobs[name] for name, _ in free), jobs
        assert all(got[name][1] for name, _ in ranked[:3])
        live = {r["docid"]: tokenize_with_positions(r["text"])
                for r in ix._docs_snapshot().select("docid", "text").collect()}
        for ph in case["phrases"]:
            assert [r[0] for r in got[f"phrase {ph}"][1]] == sorted(
                doc for doc, toks in live.items() if has_phrase(toks, ph)), ph
        for ts in case["terms"]:
            assert [r[0] for r in got[f"match {ts}"][1]] == sorted(
                doc for doc, toks in live.items()
                if set(ts) & {t for t, _ in toks}), ts
        assert got[f"phrase {case['phrases'][0]}"][1]
        assert not got[f"phrase {case['phrases'][-1]}"][1]
        # typo, exact, prefix (opt*, pag*: exact only) and no-candidate words
        assert {r[0]: r[1:3] for r in got["suggest"][1]} == case["suggest_want"]

    update_settings(spark, churned_index, typos_enabled=False)
    got, _, _ = routes(churned_index, [(
        "suggest", lambda ix: ix.suggest(_SURFACE_CASES[0]["suggest"]))],
        "notypo")
    assert [r[:3] for r in got["suggest"][1]] == [("join", "join", 0)]


def test_deep_k_cluster_equals_driver(spark, churned_index):
    """At a depth where (k + offset) * num_shards exceeds 100_000 rows, the
    cluster route's merge returns the driver route's rows and column types, for
    a plain, a phrase and a lang-filtered query, on an index with full and
    generation-horizon tombstones."""
    from search_engine_spark.query import SearchIndex

    ix = SearchIndex(spark, churned_index)
    assert len(ix._deleted) and ix._partial_tombs is not None
    k, offset = 50_000, 3
    assert (k + offset) * ix.config.num_shards > 100_000

    def key(df):
        return df.dtypes, [(r["rank"], r["docid"], r["pk"], round(r["score"], 9))
                           for r in df.collect()]

    for q, f in (("banana recipe spark", None), ('"banana recipe"', None),
                 ("spark query window", {"lang": "fr"})):
        plan = ix.plan(q, k)
        got = key(ix.execute(plan, filter_ast=f, offset=offset,
                             execution="cluster"))
        want = key(ix.execute(plan, filter_ast=f, offset=offset,
                              execution="driver"))
        assert got == want, q
        assert want[1] and want[1][0][0] == offset + 1, q
