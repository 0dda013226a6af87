"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
training-data pipeline ops; ``oracle_sql()`` gives the DuckDB-equivalent SQL
(run against the driver's pre-registered parquet views). Column names and
rounding are aligned on both sides; every hash is md5 so Spark, DuckDB and
Python agree bit-for-bit.

The search-engine queries run over a real index built (and cached per
sf_dir) by ``search_engine_spark.build.build_index`` — so the correctness
gate exercises the full pipeline: tokenize -> extract -> delta+varint
postings encode -> decode -> BM25 / WAND / phrase / filter query.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.build import build_index
from search_engine_spark.codecs import PostingReader
from search_engine_spark.config import IndexConfig
from search_engine_spark.facets import facet_distribution, facet_value_search
from search_engine_spark.filters import to_column
from search_engine_spark.pipelines import (
    bpe,
    curation,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from search_engine_spark.query import SearchIndex

# bump when build/codec layout changes so cached test indexes rebuild
ENGINE_TAG = "v3"  # bump invalidates /tmp index caches (gen/horizon schema)

SCORE_ROUND = 4  # BM25 score rounding for oracle float compare


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


_INDEX_CACHE: dict[str, SearchIndex] = {}


def _index(spark: SparkSession, sf_dir: str) -> SearchIndex:
    """Build (once per sf_dir per machine) and cache the index over the
    driver's ``documents`` table. doc_id is already a dense int -> used as
    docid directly (``docid_col``), so engine docids == oracle doc_ids."""
    key = os.path.abspath(sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.md5(f"{ENGINE_TAG}:{key}".encode()).hexdigest()[:12]
    idx_dir = os.path.join(tempfile.gettempdir(), f"seg_idx_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        cfg = IndexConfig(
            text_col="text",
            pk_col="doc_id",
            ts_col=None,
            docid_col="doc_id",
            attr_cols=("lang", "source", "n_chars"),
            num_shards=4,
            num_buckets=8,
            block_size=64,
        )
        build_index(spark, _docs(spark, sf_dir), idx_dir, cfg)
    _INDEX_CACHE[key] = SearchIndex(spark, idx_dir)
    return _INDEX_CACHE[key]


_INDEX_MF_CACHE: dict[str, SearchIndex] = {}


def _index_mf(spark: SparkSession, sf_dir: str) -> SearchIndex:
    """Multi-field (BM25F) index over the driver's ``documents`` table:
    text weight 1, source weight 2 (reference K5 field weights)."""
    key = os.path.abspath(sf_dir)
    if key in _INDEX_MF_CACHE:
        return _INDEX_MF_CACHE[key]
    tag = hashlib.md5(f"{ENGINE_TAG}:mf:{key}".encode()).hexdigest()[:12]
    idx_dir = os.path.join(tempfile.gettempdir(), f"seg_idx_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        cfg = IndexConfig(
            field_cols=(("text", 1), ("source", 2)),
            pk_col="doc_id",
            ts_col=None,
            docid_col="doc_id",
            attr_cols=("lang",),
            num_shards=4,
            num_buckets=8,
            block_size=64,
        )
        build_index(spark, _docs(spark, sf_dir), idx_dir, cfg)
    _INDEX_MF_CACHE[key] = SearchIndex(spark, idx_dir)
    return _INDEX_MF_CACHE[key]


_INDEX_ST_CACHE: dict[str, SearchIndex] = {}


def _index_settings(spark: SparkSession, sf_dir: str) -> SearchIndex:
    """Index with PERSISTED per-index settings (reference
    ``src/update/settings.rs``: synonyms live in the index, not the query):
    built once with ``IndexSettings(synonyms={'merge': ['join']})`` stored
    in meta.json; queries default from it with no per-call argument."""
    from search_engine_spark.config import IndexSettings

    key = os.path.abspath(sf_dir)
    if key in _INDEX_ST_CACHE:
        return _INDEX_ST_CACHE[key]
    tag = hashlib.md5(f"{ENGINE_TAG}:st:{key}".encode()).hexdigest()[:12]
    idx_dir = os.path.join(tempfile.gettempdir(), f"seg_idx_{tag}")
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        cfg = IndexConfig(
            text_col="text",
            pk_col="doc_id",
            ts_col=None,
            docid_col="doc_id",
            attr_cols=("lang",),
            num_shards=4,
            num_buckets=8,
            block_size=64,
        )
        build_index(
            spark, _docs(spark, sf_dir), idx_dir, cfg,
            settings=IndexSettings(synonyms={"merge": ["join"]}),
        )
    _INDEX_ST_CACHE[key] = SearchIndex(spark, idx_dir)
    return _INDEX_ST_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 (block-max WAND path) over sf0.001."""
    idx = _index(spark, "/root/testdata/sf0.001")
    return idx.search("table join merge part", k=10)


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def _q_term_dict(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx._terms.select("term", "df", "cf", "max_tf")


def _q_doc_stats(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx._doc_stats.select(F.col("docid"), F.col("dl"))


def _q_postings_decode(spark, sf_dir):
    """Decode the delta+varint binary segments back to (term, docid, tf) —
    verifies the full encode path against the SQL tokenization oracle."""
    idx = _index(spark, sf_dir)
    block_size = idx.config.block_size

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms, docids, tfs = [], [], []
            for row in pdf.to_dict("records"):
                r = PostingReader.from_row(row, block_size)
                d, t, _ = r.decode_all()
                terms.extend([row["term"]] * len(d))
                docids.extend(int(x) for x in d)
                tfs.extend(int(x) for x in t)
            yield pd.DataFrame(
                {
                    "term": pd.Series(terms, dtype="object"),
                    "docid": pd.Series(docids, dtype="int64"),
                    "tf": pd.Series(tfs, dtype="int32"),
                }
            )

    return idx._postings.mapInPandas(decode, schema="term string, docid long, tf int")


def _q_match_positions(spark, sf_dir):
    """Reference O1 ``show_matches_position`` (search/mod.rs formats
    per-document match positions for highlighting): decode the STORED
    per-posting position lists for the query terms back to
    (term, docid, pos) rows — term-filtered segment scan (predicate
    pushed to the parquet posting store), vectorized varint decode in
    mapInPandas. The oracle recomputes positions from the raw text, so
    hash equality proves the position encode/decode round trip."""
    idx = _index(spark, sf_dir)
    block_size = idx.config.block_size
    terms = ("part", "filter")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_t, out_d, out_p = [], [], []
            for row in pdf.to_dict("records"):
                r = PostingReader.from_row(row, block_size)
                docids, _, _ = r.decode_all()
                for docid, pos in zip(docids, r.decode_all_positions()):
                    out_t.extend([row["term"]] * len(pos))
                    out_d.extend([int(docid)] * len(pos))
                    out_p.extend(int(x) for x in pos)
            yield pd.DataFrame(
                {
                    "term": pd.Series(out_t, dtype="object"),
                    "docid": pd.Series(out_d, dtype="int64"),
                    "pos": pd.Series(out_p, dtype="int64"),
                }
            )

    return (
        idx._postings.filter(F.col("term").isin(*terms))
        .mapInPandas(decode, schema="term string, docid long, pos long")
        .orderBy("term", "docid", "pos")
    )


def _bm25_df(spark, sf_dir, query, mode, filter_ast=None, k=10):
    idx = _index(spark, sf_dir)
    res = idx.search(query, k=k, mode=mode, filter_ast=filter_ast)
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_topk(spark, sf_dir):
    return _bm25_df(spark, sf_dir, "table join merge", mode="exhaustive")


def _q_bm25_topk_wand(spark, sf_dir):
    return _bm25_df(spark, sf_dir, "hash group sort", mode="wand")


def _q_bm25_filtered(spark, sf_dir):
    return _bm25_df(
        spark,
        sf_dir,
        "part filter table",
        mode="exhaustive",
        filter_ast={"lang": {"$in": ["en", "fr"]}},
    )


def _q_phrase_match(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx.phrase_docids(["part", "filter"])


def _q_prefix_expand(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return idx.expand_prefix_df("sc")


def _q_typo_expand(spark, sf_dir):
    idx = _index(spark, sf_dir)
    expansions = idx._expand_typo("tabl")  # {term: df}, reference Q4 semantics
    return spark.createDataFrame(
        sorted(expansions.items()), "term string, df long"
    )


def _q_bm25_negated(spark, sf_dir):
    """Reference Q1 negation (`-word` excludes matching docs)."""
    return _bm25_df(spark, sf_dir, "table join -merge", mode="exhaustive")


def _q_bm25_synonyms(spark, sf_dir):
    """Reference Q5: settings-driven synonym expansion scored alongside."""
    idx = _index(spark, sf_dir)
    res = idx.search("merge", k=10, mode="exhaustive",
                     synonyms={"merge": ["join"]})
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_stored_settings(spark, sf_dir):
    """Reference settings persistence (src/update/settings.rs:189-243):
    the SAME synonym expansion as bm25_synonyms, but served from settings
    STORED in the index's meta.json — the search call passes no synonym
    argument at all."""
    idx = _index_settings(spark, sf_dir)
    res = idx.search("merge", k=10, mode="exhaustive")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_phrase_synonym(spark, sf_dir):
    """Reference Q5 multi-word synonym expansion (query_graph.rs:307-396):
    'merge' also matches the CONSECUTIVE phrase 'part filter', scored as a
    pseudo-term — SYNONYM_PENALTY * idf(phrase df) * BM25 tf-saturation
    over per-doc phrase occurrence counts (QueryPlan.syn_phrases frozen
    spec). Docs matching only the phrase still enter the candidate set."""
    idx = _index(spark, sf_dir)
    res = idx.search("merge", k=10, mode="exhaustive",
                     synonyms={"merge": ["part filter"]})
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_match_all(spark, sf_dir):
    """Reference TermsMatchingStrategy::All (src/search/mod.rs:226-238):
    conjunctive — every scoring term must occur in the doc."""
    idx = _index(spark, sf_dir)
    res = idx.search("table join merge", k=10, mode="exhaustive",
                     match_all=True)
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_last(spark, sf_dir):
    """Reference TermsMatchingStrategy::Last — the reference DEFAULT
    (src/search/mod.rs:226-238, words rule ranking/words.rs:52-80): docs
    bucket by the longest matched prefix of query words (drop-last-word-
    first), BM25 ranks within a bucket; folded as
    score = bucket * (sum(idf) + 1) + bm25."""
    idx = _index(spark, sf_dir)
    res = idx.search("table join merge", k=10, mode="exhaustive",
                     matching_strategy="last")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_word_split(spark, sf_dir):
    """Reference Q6 word splits (query_graph.rs:398-453): 'tablejoin'
    derives the split pair (table, join) from the dictionary."""
    idx = _index(spark, sf_dir)
    res = idx.search("tablejoin", k=10, mode="exhaustive", splits=True)
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_typo_penalty(spark, sf_dir):
    """Reference K3 TypoRule (ranking/typo.rs): typo-derived terms score
    TYPO_PENALTY**distance * idf, so exact matches outrank 1-typo matches."""
    return _bm25_df(spark, sf_dir, "tabl~", mode="exhaustive")


def _q_bm25_prefix_rank(spark, sf_dir):
    """Reference K6 ExactnessRule analogue for prefixes: prefix-derived
    terms score PREFIX_PENALTY * idf (the exact term itself keeps 1.0)."""
    return _bm25_df(spark, sf_dir, "sc*", mode="exhaustive")


def _q_bm25f(spark, sf_dir):
    """Reference K5 AttributeRule / word_fid_docids as BM25F with integer
    field boosts (text w=1, source w=2): tf_w = sum_f w_f*tf_f,
    dl_w = sum_f w_f*dl_f, standard BM25 over the weighted values — a
    source-field hit counts double, so docs whose source matches the query
    outrank body-only matches."""
    idx = _index_mf(spark, sf_dir)
    res = idx.search("src1 table", k=10, mode="exhaustive")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_proximity(spark, sf_dir):
    """Reference K4 ProximityRule (ranking/proximity.rs:16-227): each
    consecutive query word pair adds prox_weight/minprox (minprox <= 7,
    reference asymmetric distance) to the BM25 score, so docs with the
    words near each other outrank docs with them far apart."""
    idx = _index(spark, sf_dir)
    res = idx.search("table join", k=10, mode="exhaustive", proximity=1.0)
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_proximity_full(spark, sf_dir):
    """Reference ProximityRule cost paths (ranking/proximity.rs:16-227 +
    proximity_cost.rs:17-110) folded to a scalar: ALL query word pairs i<j
    weighted 1/(j-i), pair cost min(minprox, 8) (8 when absent), bonus
    prox_weight * max(0, 4S - cost)/4S — for consecutive-only pairs the
    budget 4S is the reference's (terms-1)*4."""
    idx = _index(spark, sf_dir)
    res = idx.search("table join merge", k=10, mode="exhaustive",
                     proximity=1.0, proximity_mode="cost")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_bm25_exactness(spark, sf_dir):
    """Reference ExactnessRule ExactAttribute (ranking/exactness.rs:16-95 +
    field_id_word_count_docids, extract_fid_word_count_docids.rs:15-91):
    the query is the shortest document's whole text; that doc's field
    equals the query (anchored at position 0, dl == n), so it takes the
    +5.0 boost while every BM25 competitor doesn't."""
    idx = _index(spark, sf_dir)
    q = (
        _docs(spark, sf_dir)
        .orderBy(F.length("text").asc(), F.col("doc_id").asc())
        .select("text")
        .first()["text"]
    )
    res = idx.search(q, k=10, mode="exhaustive", exactness=5.0)
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_score_details(spark, sf_dir):
    """Reference K9 score_details (src/score_details.rs:31-57): per-term
    BM25 contribution rows for the top-10 docs; sum(part) per docid equals
    the search score."""
    idx = _index(spark, sf_dir)
    det = idx.score_details("table join merge", k=10)
    return det.select("docid", "term", F.round("part", SCORE_ROUND).alias("part"))


def _q_hybrid_rank(spark, sf_dir):
    """Reference K12 hybrid.rs: ratio-weighted keyword+semantic merge."""
    from search_engine_spark.query import hybrid_search

    idx = _index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    res = hybrid_search(idx, _embs(spark, sf_dir), "table join merge", qv,
                        k=10, semantic_ratio=0.5, pool=30)
    return res.select(
        "rank", "docid", F.round("score", SCORE_ROUND).alias("score")
    )


def _q_bm25_paginated(spark, sf_dir):
    """Reference K10 pagination: page 2 (offset=5, k=5) of a BM25 ranking."""
    idx = _index(spark, sf_dir)
    res = idx.search("table join merge", k=5, offset=5, mode="exhaustive")
    return res.select("rank", "docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_sort_by_attr(spark, sf_dir):
    """Reference K7 SortRule: docs matching 'table' ordered by n_chars desc."""
    idx = _index(spark, sf_dir)
    return idx.search_sorted(
        [("n_chars", "desc")], query="table", k=15
    ).select("rank", "docid", "n_chars")


def _q_filter_where(spark, sf_dir):
    ast = {"$and": [{"lang": {"$in": ["en", "fr"]}}, {"n_chars": {"$between": [100, 400]}}]}
    return _docs(spark, sf_dir).filter(to_column(ast)).select("doc_id")


def _q_facet_distribution(spark, sf_dir):
    return facet_distribution(
        _docs(spark, sf_dir), "source", filter_ast={"lang": {"$ne": "zh"}}
    )


def _q_facet_value_search(spark, sf_dir):
    return facet_value_search(_docs(spark, sf_dir), "source", "src1", k=5)


def _q_facet_stats(spark, sf_dir):
    """Reference FD1 compute_stats (facet_distribution.rs:271-324): numeric
    facet (min, max) over the filtered candidate set, for range-facet UIs."""
    from search_engine_spark.facets import facet_stats

    return facet_stats(
        _docs(spark, sf_dir), "n_chars", filter_ast={"lang": "en"}
    )


def _q_highlight(spark, sf_dir):
    """Reference O1 highlight: wrap matched terms on the top-k docs only."""
    idx = _index(spark, sf_dir)
    top = idx.search("table join merge", k=5).select("docid")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("docid"), "text")
    return top.join(docs, "docid").select(
        "docid",
        F.regexp_replace(
            F.col("text"), r"\b(table|join|merge)\b", "<em>$1</em>"
        ).alias("snippet"),
    )


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _q_dedup_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.4)


def _q_dedup_clusters(spark, sf_dir):
    """Connected components over the Jaccard pair graph (Hash-Min label
    propagation, O(diameter) rounds): every doc -> the min doc_id in its
    near-duplicate component. The step between "candidate pairs" and
    "keep one per group" — pairs alone under-delete when dups chain."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_pairs(docs, threshold=0.4)
    return dedup.cluster_pairs(docs, pairs).orderBy("doc_id")


def _q_dedup_minhash(spark, sf_dir):
    # 3-word shingles: discriminative features even on a tiny vocabulary
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2, shingle_size=3)


def _q_minhash_novel(spark, sf_dir):
    """Cross-corpus near-dup flags (round 5): docs with doc_id % 3 == 0
    play the 'new crawl', the rest the frozen reference corpus; 3-word
    shingles, Jaccard-verified >= 0.2 like dedup_minhash."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_novel(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        threshold=0.2, shingle_size=3,
    )


def _q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def _q_dedup_simhash(spark, sf_dir):
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=20)


def _query_vec(spark, sf_dir, vec_id=0):
    row = _embs(spark, sf_dir).filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [float(x) for x in row["embedding"]]


def _q_ann_cosine(spark, sf_dir):
    qv = _query_vec(spark, sf_dir, 0)
    return similarity.cosine_topk(
        _embs(spark, sf_dir), qv, k=10, exclude_ids=[0]
    ).select("vec_id", "sim")


def _q_ann_cosine_batch(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_batch(embs, queries, k=5).select(
        "qid", "vec_id", "sim"
    )


def _q_dedup_stream(spark, sf_dir):
    # Structured Streaming stateful dedup (applyInPandasWithState), drained
    # with availableNow into a memory sink; batch parity = min-id winner
    # per exact text content (the oracle).
    import uuid

    from search_engine_spark import streaming as streaming_mod

    # documents.parquet is a single file; the file-stream source needs a
    # directory, so stream the sf_dir filtered down to that one file
    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    name = f"dedup_stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="dedup_stream_ckpt_")
    q = (
        streaming_mod.dedup_stream(stream, text_col="text", id_col="doc_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _q_decontaminate_stream(spark, sf_dir):
    """Stream-static decontamination (round 5): the documents table
    replayed as a file stream, n-gram-joined against a STATIC probe set
    (every 97th doc), per-doc hit counts as a streaming aggregation
    drained with availableNow into a complete-mode memory sink. The
    oracle is the batch `decontaminate` SQL — stream and batch results
    are identical by construction."""
    import uuid

    from search_engine_spark import streaming as streaming_mod

    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    name = f"decon_stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="decon_stream_ckpt_")
    q = (
        streaming_mod.decontaminate_stream(stream, probes, n=5)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _q_stream_windowed_counts(spark, sf_dir):
    """Event-time windowed aggregation (round 5): the events table
    replayed as a file stream through ``windowed_term_counts`` (tumbling
    1-hour windows keyed by event_type, watermark for late data),
    drained availableNow into a complete-mode memory sink so every
    window is emitted deterministically. Oracle: GROUP BY
    date_trunc('hour', ts) — window start/end are epoch-aligned in both
    engines."""
    import uuid

    from search_engine_spark import streaming as streaming_mod

    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks need TIMESTAMP (the parquet column is NTZ); with a
        # whole-hour session offset the cast-in / cast-out pair below is
        # wall-clock-exact (the driver host runs UTC)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    name = f"wincount_stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="wincount_stream_ckpt_")
    q = (
        streaming_mod.windowed_term_counts(
            stream, ts_col="ts", text_col="event_type",
            window="1 hour", watermark="2 hours",
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # epoch seconds, not timestamps: the value-hash compare is dtype-exact
    # and pandas/duckdb disagree on timestamp unit (ns vs us)
    return (
        spark.table(name)
        .select(
            F.col("window_start").cast("long").alias("window_start_s"),
            F.col("window_end").cast("long").alias("window_end_s"),
            "term",
            "n",
        )
        .orderBy("window_start_s", "term")
    )


def _q_ann_ivf(spark, sf_dir):
    qv = _query_vec(spark, sf_dir, 2)
    return similarity.ivf_cosine_topk(
        _embs(spark, sf_dir), qv, k=10, n_centroids=16, n_probe=4
    ).select("vec_id", "sim")


def _q_ann_ivf_store(spark, sf_dir):
    """IVF probe against the MATERIALIZED partitioned store (round 5):
    ``ivf_write`` lays each inverted list out as its own ``cid=<c>``
    parquet partition; ``ivf_probe`` picks the n_probe lists driver-side
    from the tiny codebook and scans ONLY those directories (file-listing
    partition pruning — the plan the inline ``ann_ivf`` docstring
    promises, made physical). Same semantics as ann_ivf, query vec 7."""
    import uuid

    key = os.path.abspath(sf_dir)
    store = os.path.join(
        tempfile.gettempdir(),
        "ivf_store_" + hashlib.md5(f"{ENGINE_TAG}:{key}".encode()).hexdigest()[:12],
    )
    if not os.path.exists(os.path.join(store, "centroids")):
        similarity.ivf_write(_embs(spark, sf_dir), store, n_centroids=16)
    qv = _query_vec(spark, sf_dir, 7)
    return similarity.ivf_probe(spark, store, qv, k=10, n_probe=4).select(
        "vec_id", "sim"
    )


_SNAP_IDX_CACHE: dict[str, "SearchIndex"] = {}


def _q_bm25_snapshot(spark, sf_dir):
    """Reference S7 snapshot (snapshot.rs): point-in-time copy of the
    committed index, openable directly — pinned-meta-first contract so
    concurrent generations can't leak (round 5). The oracle is the
    ordinary batch BM25 SQL: hash equality proves the snapshot serves
    identical results to the source index."""
    from search_engine_spark.update import snapshot

    key = os.path.abspath(sf_dir)
    idx = _SNAP_IDX_CACHE.get(key)
    if idx is None:
        src = _index(spark, sf_dir)  # ensures the source index exists
        tag = hashlib.md5(f"{ENGINE_TAG}:snap:{key}".encode()).hexdigest()[:12]
        snap_dir = os.path.join(tempfile.gettempdir(), f"seg_idx_{tag}")
        if not os.path.exists(os.path.join(snap_dir, "meta.json")):
            snapshot(src.paths.root, snap_dir)
        idx = SearchIndex(spark, snap_dir)
        _SNAP_IDX_CACHE[key] = idx
    res = idx.search("filter sort data", k=10, mode="exhaustive")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_hybrid_rrf(spark, sf_dir):
    """Reciprocal-rank-fusion hybrid (round 5, Cormack et al. 2009):
    1/(60+rank) per retriever pool, no score normalization — the
    score-free sibling of the K12 ratio merge. Pools of 30, k=10."""
    from search_engine_spark.query import hybrid_search_rrf

    idx = _index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 9)
    res = hybrid_search_rrf(
        idx, _embs(spark, sf_dir), "hash group sort", qv, k=10, pool=30
    )
    return res.select(
        "rank", "docid", F.round("score", SCORE_ROUND).alias("score")
    )


def _q_suggest_typos(spark, sf_dir):
    """Did-you-mean suggestion surface (round 5): best in-budget
    dictionary term per query word by (distance, df desc, lexicographic);
    'merge' self-suggests at dist 0, 'zzzzzz' has no candidate -> no
    row. ONE broadcast-word dictionary scan."""
    return _index(spark, sf_dir).suggest("tablee windoq filtir merge zzzzzz")


def _q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ / IVFADC (round 5, Jégou et al. 2011 §IV): coarse IVF
    probe + RESIDUAL product-quantization codes + per-query broadcast
    ADC table over the probed lists — the 10^12-vector serving layout,
    composed from the hash-green IVF and PQ pieces. Query vec 5."""
    return similarity.ivf_pq_topk(
        _embs(spark, sf_dir),
        _query_vec(spark, sf_dir, 5),
        k=10, n_centroids=16, n_probe=4, m=4, n_codes=16,
    )


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (round 5, Jégou et al. 2011):
    md5-sampled per-subspace codebooks (m=4 x 16 codes over the 64-dim
    embeddings), zero-exchange encode projection, per-query broadcast
    distance table, TakeOrdered top-k. Query vec 3."""
    embs = _embs(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 3)
    cb = similarity.pq_codebooks(embs, m=4, n_codes=16)
    return similarity.pq_adc_topk(embs, cb, qv, k=10, m=4)


def _q_dedup_embedding(spark, sf_dir):
    # synthetic embeddings have no true near-dups (max pairwise sim ~0.51),
    # so 0.4 exercises the banded-LSH candidate path with a non-empty result
    return similarity.cosine_near_dup_pairs(
        _embs(spark, sf_dir), threshold=0.4, n_planes=16, n_bands=4
    )


def _q_ann_lsh(spark, sf_dir):
    qv = _query_vec(spark, sf_dir, 1)
    return similarity.lsh_cosine_topk(
        _embs(spark, sf_dir), qv, k=10, n_planes=12, multiprobe_hamming=1
    ).select("vec_id", "sim")


def _q_embed_docs(spark, sf_dir):
    """Pluggable embedder slot (reference P8 vector extraction,
    extract_vector_points.rs + src/vector/mod.rs embed_chunks): default
    deterministic md5-projection embedder; exploded to (doc_id, d, v) for
    value-stable hashing."""
    from pyspark.sql import functions as F

    from search_engine_spark.pipelines import embed

    out = embed.embed_documents(_docs(spark, sf_dir), dim=8)
    return (
        out.select("doc_id", F.posexplode("embedding").alias("d", "v0"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("d").cast("int").alias("d"),
            (F.round("v0", 6) + F.lit(0.0)).alias("v"),  # kill -0.0
        )
        .orderBy("doc_id", "d")
    )


def _q_embed_docs_template(spark, sf_dir):
    """Embedder prompt template (reference src/prompt/mod.rs +
    template_checker.rs): the model embeds the RENDERED prompt
    '{{lang}}: {{text}}' — JVM-side concat, schema-checked fields — not a
    fixed text column. Same md5-BoW embedder and explode shape as
    embed_docs, so only the prompt differs."""
    from pyspark.sql import functions as F

    from search_engine_spark.pipelines import embed

    out = embed.embed_documents(
        _docs(spark, sf_dir), dim=8, template="{{lang}}: {{text}}"
    )
    return (
        out.select("doc_id", F.posexplode("embedding").alias("d", "v0"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("d").cast("int").alias("d"),
            (F.round("v0", 6) + F.lit(0.0)).alias("v"),  # kill -0.0
        )
        .orderBy("doc_id", "d")
    )


def _q_token_stats(spark, sf_dir):
    return textstats.token_stats(_docs(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    # "eval set" = every 97th doc; 5-gram overlap (probe docs self-match,
    # exact/near dups of them are flagged too)
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    return curation.decontaminate(docs, probes, n=5)


def _q_bigram_logloss(spark, sf_dir):
    """Interpolated self-trained bigram LM cross-entropy per doc (round
    5): context-aware upgrade of unigram_logloss; in-row array transform
    pairs bigrams with zero extra exchanges."""
    return curation.bigram_logloss(_docs(spark, sf_dir))


def _q_ngram_top(spark, sf_dir):
    """Top corpus word 3-grams with a support floor (round 5): in-row
    shingling + ONE map-side-combined count; the KenLM-trainer input
    statistic."""
    return (
        curation.ngram_counts(_docs(spark, sf_dir), n=3, min_count=2)
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(100)
    )


def _q_index_stats(spark, sf_dir):
    """Reference /stats parity (src/index.rs:337 number_of_documents,
    :415 field_distribution) widened with dictionary/postings totals:
    two 1-row aggregations unpivoted with stack (round 5)."""
    return _index(spark, sf_dir).stats()


def _q_sort_multi(spark, sf_dir):
    """Reference K7 SortRule with a MULTI-key criterion list (sort.rs
    chains criteria): lang asc then n_chars desc over 'merge' matches."""
    idx = _index(spark, sf_dir)
    return idx.search_sorted(
        [("lang", "asc"), ("n_chars", "desc")], query="merge", k=15
    ).select("rank", "docid", "lang", "n_chars")


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning over the corpus vocabulary (round
    5, Sennrich et al. 2016): inherently iterative (each merge depends
    on the previous), so per the driver contract it carries no SQL
    oracle — the exact-equality oracle is the independent pure-Python
    implementation in tests/test_round5_analytics.py."""
    return bpe.learn_bpe(_docs(spark, sf_dir), n_merges=8)


def _q_token_entropy(spark, sf_dir):
    """Per-doc Shannon entropy of the token distribution (round 5):
    lexical-diversity quality signal; one (doc, term) count + one per-doc
    aggregation, both keyed by doc_id."""
    return textstats.token_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_tfidf_topk(spark, sf_dir):
    """Per-doc top-5 TF-IDF keywords (round 5): corpus df aggregation
    joined back under AQE, per-document window for the top-k (never a
    global sort)."""
    return textstats.tfidf_topk(_docs(spark, sf_dir), k=5)


def _q_pmi_bigrams(spark, sf_dir):
    """Corpus collocations: top-20 adjacent pairs by PMI, support >= 5
    (round 5): in-row bigram pairing, two map-side-combined vocab aggs,
    TakeOrdered top-k."""
    return curation.pmi_bigrams(_docs(spark, sf_dir), min_count=5, k=20)


def _q_perplexity_buckets(spark, sf_dir):
    """CCNet perplexity tiers (round 5): unigram-LM cross-entropy cut at
    exact tercile cutoffs, bucketing as a stateless compare against the
    broadcast cutoff array (threshold-then-compare, no ntile window)."""
    return curation.perplexity_buckets(_docs(spark, sf_dir), 3)


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table (round 5): IVF coarse clusters
    (md5-seeded, zero-exchange assignment) + within-cluster min-id
    cosine dedup at tau=0.2; quadratic work bounded by cluster occupancy."""
    return similarity.semantic_dedup(
        _embs(spark, sf_dir), n_centroids=16, tau=0.2
    )


_STREAM_IDX_CACHE: dict[str, "SearchIndex"] = {}


def _q_bm25_stream_index(spark, sf_dir):
    """BM25 top-10 over an index built INCREMENTALLY via Structured
    Streaming (round 5): a quarter of the corpus seeds a batch build,
    the rest replays as a parquet file stream (maxFilesPerTrigger=1 ->
    3 micro-batches) through ``streaming.index_stream`` (foreachBatch ->
    ``update.add_documents``, one segment generation per batch,
    opportunistic ``compact``). The oracle is the STANDARD batch BM25
    SQL over the full corpus — hash-equality proves stream-ingested ==
    batch-built, the reference's incremental-update contract
    (``src/update/index_documents/mod.rs``) under Spark streaming."""
    import uuid

    from search_engine_spark import streaming as streaming_mod

    key = os.path.abspath(sf_dir)
    idx = _STREAM_IDX_CACHE.get(key)
    if idx is None:
        tag = hashlib.md5(f"{ENGINE_TAG}:stream:{key}".encode()).hexdigest()[:12]
        idx_dir = os.path.join(tempfile.gettempdir(), f"seg_idx_{tag}")
        if not os.path.exists(os.path.join(idx_dir, "meta.json")):
            cfg = IndexConfig(
                text_col="text",
                pk_col="doc_id",
                ts_col=None,
                docid_col="doc_id",
                attr_cols=("lang", "source", "n_chars"),
                num_shards=4,
                num_buckets=8,
                block_size=64,
            )
            docs = _docs(spark, sf_dir)
            build_index(
                spark, docs.filter(F.col("doc_id") % 4 == 0), idx_dir, cfg
            )
            stage = os.path.join(
                tempfile.gettempdir(), f"stream_stage_{uuid.uuid4().hex[:8]}"
            )
            rest = docs.filter(F.col("doc_id") % 4 != 0)
            rest.repartition(3).write.parquet(stage)
            stream = (
                spark.readStream.schema(rest.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(stage)
            )
            ckpt = tempfile.mkdtemp(prefix="stream_idx_ckpt_")
            q = streaming_mod.index_stream(
                stream, idx_dir, ckpt, compact_every=3
            )
            q.awaitTermination()
        idx = SearchIndex(spark, idx_dir)
        _STREAM_IDX_CACHE[key] = idx
    res = idx.search("window scan batch", k=10, mode="exhaustive")
    return res.select("docid", F.round("score", SCORE_ROUND).alias("score"))


def _q_decontaminate_bloom(spark, sf_dir):
    """Broadcast-Bloom decontamination (round 5): map-side bitset
    prefilter over corpus grams + exact md5-key confirm join — output
    identical to `decontaminate` by construction (the oracle IS the
    exact SQL), the Bloom only bounds what reaches the exchange when
    the contamination set outgrows a broadcast hash relation."""
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    return curation.decontaminate_bloom(docs, probes, n=5)


def _q_stratified_sample_n(spark, sf_dir):
    """Fixed-count-per-stratum deterministic sample (round 5): exactly
    min(n, |stratum|) rows by (md5(seed:id), id) order; the default
    coin-threshold prefilter bounds the per-stratum window sort to
    ~margin*n rows with an exact per-stratum fallback."""
    return curation.stratified_sample_n(
        _docs(spark, sf_dir), 40, seed=7
    ).select("doc_id", "lang")


def _q_repetition_stats(spark, sf_dir):
    return curation.repetition_stats(_docs(spark, sf_dir), ngram=2)


def _q_pii_redact(spark, sf_dir):
    """FineWeb/CCNet-style PII masking: emails / IPv4 / +international
    phones -> typed placeholders, with per-doc match counts. Pure codegen
    projection (regexp_replace / regexp_extract_all), zero exchanges; the
    RE2-compatible patterns run verbatim in the DuckDB oracle."""
    return curation.pii_redact(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_unigram_logloss(spark, sf_dir):
    """CCNet-style perplexity-proxy quality score (Wenzek et al. 2019)
    under the corpus's own unigram LM: one vocab aggregation broadcast
    against per-(doc, term) tfs; the corpus never shuffles on term."""
    return curation.unigram_logloss(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_dup_ngram_cross(spark, sf_dir):
    """Cross-document duplicate n-gram fraction (Lee et al. 2021 /
    FineWeb inter-doc dup stats): share of each doc's distinct 3-grams
    that occur in >= 1 other doc. Three linear md5-keyed exchanges, no
    pair explosion (see curation.cross_doc_ngram_dup)."""
    return curation.cross_doc_ngram_dup(_docs(spark, sf_dir), n=3).orderBy("doc_id")


def _q_url_canon(spark, sf_dir):
    """Crawl-style URL canonicalization (the key-maker for URL-level
    dedup): tracking params stripped, params sorted, fragment/default
    port/'www.' dropped, scheme+host lowercased, trailing slash trimmed.
    Pure codegen projection over deterministically synthesized URLs (the
    driver tables carry no url column; the synth covers every rule:
    tracking+fragment, :80, mixed case, no-scheme fallback, whitespace +
    root path)."""
    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.concat(F.lit("https://WWW."), F.col("source"),
                                F.lit(".Example.com:443/A/B/?utm_source=x&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("http://"), F.col("source"),
                               F.lit(".example.com:80/A/B")))
        .when(m == 2, F.concat(F.lit("HTTPS://www."), F.col("source"),
                               F.lit(".EXAMPLE.com/A/B?z=26&y=25&fbclid=abc")))
        .when(m == 3, F.concat(F.col("source"), F.lit(".example.com/not-a-url")))
        .otherwise(F.concat(F.lit("  https://"), F.col("source"),
                            F.lit(".example.com/  ")))
    )
    return (
        curation.canonicalize_urls(docs.select("doc_id", url.alias("url")))
        .select("doc_id", "url", "url_canon", "url_host")
        .orderBy("doc_id")
    )


def _q_gopher_filter(spark, sf_dir):
    """Gopher quality-filter rules (Rae et al. 2021 A1.1; reused by
    FineWeb/Dolma/RefinedWeb): word count, mean word length, symbol
    ratio, alphabetic-word fraction, stop-word presence -> keep verdict +
    failed-rule audit string. Zero-exchange codegen projection."""
    return textstats.gopher_quality(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_dup_passages(spark, sf_dir):
    """Duplicated-passage spans (Lee et al. 2021 ExactSubstr, re-expressed
    as stride-1 L-token window hashing + span merge — no suffix array):
    maximal token ranges shared with >= 1 other doc. Linear exchanges
    only (see curation.dup_passages)."""
    return curation.dup_passages(_docs(spark, sf_dir), L=8).orderBy(
        "doc_id", "span_start"
    )


# batch-retrieval query set: plain-word queries over the corpus vocab
# (head terms 'the'/'a' + mid/tail terms); tokenization is whitespace on
# already-normalized words so the Spark plan and the SQL VALUES agree.
_BATCH_QUERIES = [
    (0, "table join merge"),
    (1, "spark query data stream"),
    (2, "the a"),
    (3, "window filter sort part"),
    (4, "customer line batch"),
]


def _q_search_many(spark, sf_dir):
    """Batch retrieval: 5 queries, each planned and scored exactly as
    search_rows does, over one read of the batch's union postings — on
    the driver when they fit its point-read budget, else in one shard job
    with a window merge (SearchIndex.search_many; the offline
    query-log/eval-set companion to the per-query serving path)."""
    idx = _index(spark, sf_dir)
    return idx.search_many(_BATCH_QUERIES, k=10).select(
        "query_id", "rank", "docid", F.round("score", SCORE_ROUND).alias("score")
    )


def _q_dedup_lines(spark, sf_dir):
    """Cross-doc segment dedup (CCNet/RefinedWeb boilerplate removal):
    segments on the literal token ' line ', removes segments occurring in
    >= 2 distinct docs, re-joins survivors in order
    (curation.dedup_lines)."""
    return curation.dedup_lines(
        _docs(spark, sf_dir), min_docs=2, delimiter=" line "
    )


def _q_dedup_keep(spark, sf_dir):
    """End-to-end dedup verdict: Jaccard pairs -> connected components ->
    keep the min-id doc per cluster (dedup.dedup_keep). filter(keep) IS
    the deduplicated corpus; ~keep is the removal manifest."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_pairs(docs, threshold=0.4)
    return dedup.dedup_keep(docs, pairs).orderBy("doc_id")


def _q_stratified_sample(spark, sf_dir):
    return curation.stratified_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.25, "zh": 0.75}, seed=7
    ).select("doc_id", "lang")


def _q_multimodal(spark, sf_dir):
    payloads = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    return multimodal.extract_features(payloads).select(
        "doc_id", "n_bytes", "content_md5", "fake_w", "fake_h"
    )


def _q_multimodal_resize(spark, sf_dir):
    payloads = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    return multimodal.resize_media(payloads, target_w=32, target_h=32).select(
        "doc_id", "out_w", "out_h", "thumb_md5"
    )


def _q_multimodal_frames(spark, sf_dir):
    payloads = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    return multimodal.sample_frames(payloads, frame_size=64, every=4)


def _q_multimodal_audio(spark, sf_dir):
    """REAL media decode (round 4): per-doc deterministic WAV clips
    (synth_wav integer formula) encoded with the stdlib wave writer, then
    parsed back by audio_features — channels/rate/frames/duration/RMS.
    The oracle evaluates the same integer formula analytically, so this
    is a genuine encode -> container-parse -> feature roundtrip, not a
    fake."""

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        multimodal.synth_wav(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    payloads = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    return multimodal.audio_features(payloads).orderBy("doc_id")


_MIX_TARGET = {"en": 0.6, "de": 0.25, "zh": 0.15}


def _q_mixture_weights(spark, sf_dir):
    """Training-mix reweighting (curation.mixture_weights): per-language
    token counts + the sampling weight that maps the corpus token
    distribution onto a target mix. One map-side-combined groupBy."""
    return curation.mixture_weights(
        _docs(spark, sf_dir), _MIX_TARGET, stratum_col="lang"
    ).orderBy("stratum")


def _q_host_stats(spark, sf_dir):
    """Per-site aggregation (curation.host_stats): doc/token counts +
    within-host exact-duplicate fraction, grouped on the documents table's
    source tag (the host key of this corpus). ONE map-side-combined
    groupBy + two-phase distinct aggregate."""
    return curation.host_stats(
        _docs(spark, sf_dir), host_col="source"
    ).orderBy("host")


def _q_pack_sequences(spark, sf_dir):
    """LLM pretraining sequence packing (curation.pack_sequences):
    documents concatenated in doc_id order into one token stream, cut
    into 128-token training sequences; one row per (doc, seq) span.
    Scalable two-pass cumsum (range shuffle + n_parts subtotals), never
    a single-partition global window."""
    return curation.pack_sequences(
        _docs(spark, sf_dir), max_len=128
    ).orderBy("seq_id", "doc_id")


def _q_multimodal_image(spark, sf_dir):
    """REAL image decode (round 4, zero codec deps): per-doc deterministic
    24bpp BMPs (synth_bmp integer pixel formula, width/height varied to
    hit every row-padding remainder) parsed back by the pure-numpy BMP
    container parser — width/height/channels/mean pixel. mean_px is one
    float64 division of exact integer sums, so the oracle matches with no
    rounding step."""

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        multimodal.synth_bmp(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    payloads = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    return multimodal.image_features(payloads).orderBy("doc_id")


def _q_multimodal_png(spark, sf_dir):
    """REAL compressed-image decode (round 5, zero codec deps): per-doc
    deterministic PNGs (synth_png — same integer pixel formula as
    synth_bmp, scanline filters rotating through all five PNG filter
    types) inflated with stdlib zlib and unfiltered in numpy. The oracle
    is the multimodal_image SQL verbatim: identical pixel formula,
    identical exact-integer mean_px."""

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        multimodal.synth_png(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    payloads = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    return multimodal.image_features(payloads).orderBy("doc_id")


def _q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode (round 5, zero codec deps,
    pipelines/jpeg.py): per-doc deterministic grayscale JPEGs whose
    rasters are constant per 8x8 block, so the Huffman -> dequant ->
    IDCT round trip is EXACT (DC-only blocks) and the oracle is a pure
    integer formula. Odd doc_ids carry restart intervals."""

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        multimodal.synth_jpeg(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    payloads = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    return multimodal.image_features(payloads).orderBy("doc_id")


def _q_build_metrics(spark, sf_dir):
    """Per-stage build lineage + metrics (north rule; rows-only check)."""
    idx = _index(spark, sf_dir)
    from search_engine_spark.index import CheckpointLog

    log = CheckpointLog(idx.paths, "read")
    rows = [
        (
            r["stage"],
            r["build_id"],
            int(r["metrics"].get("postings_emitted", 0)),
            int(r["metrics"].get("bytes_compressed", 0)),
            int(r["metrics"].get("segments_merged", 0)),
            float(r["wall_s"]),
        )
        for r in log.all()
    ]
    return spark.createDataFrame(
        rows,
        "stage string, build_id string, postings_emitted long, "
        "bytes_compressed long, segments_merged long, wall_s double",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered LEAST-RECENTLY-VERIFIED FIRST (the driver hash-checks ~50
    # entries per round from the top, so the ordering IS the rotation
    # policy — VERDICT r4 #4):
    #   tier A — never driver-verified (new this round);
    #   tier B — last green in r03, and r4 edited their modules
    #            (similarity.py/dedup.py/embed.py/textstats.py);
    #   tier C — r04-green whose modules changed in r5
    #            (query.py/multimodal.py/curation.py/embed.py);
    #   tier D — r04-green, module untouched since.
    return {
        # --- tier A: never verified ---
        "token_entropy": _q_token_entropy,
        "tfidf_topk": _q_tfidf_topk,
        "pmi_bigrams": _q_pmi_bigrams,
        "perplexity_buckets": _q_perplexity_buckets,
        "semantic_dedup": _q_semantic_dedup,
        "bm25_stream_index": _q_bm25_stream_index,
        "ann_ivf_store": _q_ann_ivf_store,
        "ngram_top": _q_ngram_top,
        "index_stats": _q_index_stats,
        "sort_multi": _q_sort_multi,
        "bpe_merges": _q_bpe_merges,
        "stream_windowed_counts": _q_stream_windowed_counts,
        "pq_topk": _q_pq_topk,
        "ann_ivf_pq": _q_ann_ivf_pq,
        "suggest_typos": _q_suggest_typos,
        "hybrid_rrf": _q_hybrid_rrf,
        "match_positions": _q_match_positions,
        "bm25_snapshot": _q_bm25_snapshot,
        "decontaminate_bloom": _q_decontaminate_bloom,
        "stratified_sample_n": _q_stratified_sample_n,
        "decontaminate_stream": _q_decontaminate_stream,
        "bigram_logloss": _q_bigram_logloss,
        "minhash_novel": _q_minhash_novel,
        "multimodal_jpeg": _q_multimodal_jpeg,
        "multimodal_png": _q_multimodal_png,
        # --- tier B: r03-stale, modules edited in r4 ---
        "dedup_exact": _q_dedup_exact,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_minhash": _q_dedup_minhash,
        "simhash": _q_simhash,
        "dedup_simhash": _q_dedup_simhash,
        "ann_cosine": _q_ann_cosine,
        "ann_cosine_batch": _q_ann_cosine_batch,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_stream": _q_dedup_stream,
        "embed_docs": _q_embed_docs,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "decontaminate": _q_decontaminate,
        "repetition_stats": _q_repetition_stats,
        "pii_redact": _q_pii_redact,
        # --- tier C: r04-green, module changed in r5 ---
        "search_many": _q_search_many,
        "highlight": _q_highlight,
        "multimodal_image": _q_multimodal_image,
        "multimodal_audio": _q_multimodal_audio,
        "multimodal_features": _q_multimodal,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_frames": _q_multimodal_frames,
        "pack_sequences": _q_pack_sequences,
        "dedup_lines": _q_dedup_lines,
        "dedup_keep": _q_dedup_keep,
        "stratified_sample": _q_stratified_sample,
        "mixture_weights": _q_mixture_weights,
        "host_stats": _q_host_stats,
        "unigram_logloss": _q_unigram_logloss,
        "dup_ngram_cross": _q_dup_ngram_cross,
        "url_canon": _q_url_canon,
        "gopher_filter": _q_gopher_filter,
        "dup_passages": _q_dup_passages,
        "embed_docs_template": _q_embed_docs_template,
        "bm25_phrase_synonym": _q_bm25_phrase_synonym,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_wand": _q_bm25_topk_wand,
        "bm25_filtered": _q_bm25_filtered,
        "score_details": _q_score_details,
        "hybrid_rank": _q_hybrid_rank,
        "term_dict": _q_term_dict,
        "doc_stats": _q_doc_stats,
        "postings_decode": _q_postings_decode,
        "phrase_match": _q_phrase_match,
        "prefix_expand": _q_prefix_expand,
        "typo_expand": _q_typo_expand,
        "bm25_paginated": _q_bm25_paginated,
        "bm25_negated": _q_bm25_negated,
        "bm25_synonyms": _q_bm25_synonyms,
        "bm25_stored_settings": _q_bm25_stored_settings,
        "bm25_match_all": _q_bm25_match_all,
        "bm25_last": _q_bm25_last,
        "bm25_word_split": _q_bm25_word_split,
        "bm25_typo_penalty": _q_bm25_typo_penalty,
        "bm25_prefix_rank": _q_bm25_prefix_rank,
        "bm25_proximity": _q_bm25_proximity,
        "bm25_proximity_full": _q_bm25_proximity_full,
        "bm25_exactness": _q_bm25_exactness,
        "bm25f": _q_bm25f,
        "sort_by_attr": _q_sort_by_attr,
        # --- tier D: r04-green, module untouched in r5 ---
        "filter_where": _q_filter_where,
        "facet_distribution": _q_facet_distribution,
        "facet_value_search": _q_facet_value_search,
        "facet_stats": _q_facet_stats,
        "build_metrics": _q_build_metrics,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# shared tokenization CTEs: identical to the frozen tokenizer on the pure
# [a-z0-9 ] driver corpus (see analysis.py module docstring)
_TOKS = """
toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term,
         generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) - 1 AS pos
  FROM documents
),
tdoc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
stats AS (
  SELECT d.doc_id, coalesce(t.dl, 0) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) t USING (doc_id)
),
dict AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf, max(tf) AS max_tf
  FROM tdoc GROUP BY 1
),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM stats)
"""


def _bm25_sql(terms: "list[str] | dict[str, float]", where: str = "TRUE",
              k: int = 10, having: str = "TRUE") -> str:
    """``terms`` may be a list (every term weighted 1.0) or a dict
    term -> derivation-penalty multiplier (config.py K3/K6 penalties —
    derived terms score penalty * idf, mirroring SearchIndex.plan)."""
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in terms}
    tl = ", ".join(f"'{t}'" for t in terms)
    if all(w == 1.0 for w in terms.values()):
        wexpr = "1.0"
    else:
        cases = " ".join(
            f"WHEN '{t}' THEN {w!r}" for t, w in sorted(terms.items())
        )
        wexpr = f"(CASE td.term {cases} ELSE 1.0 END)"
    return f"""
WITH {_TOKS},
scores AS (
  SELECT td.doc_id,
         sum( {wexpr} * ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  JOIN documents d ON d.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ({tl}) AND ({where})
  GROUP BY td.doc_id
  HAVING {having}
)
SELECT doc_id AS docid, round(score, {SCORE_ROUND}) AS score
FROM scores ORDER BY score DESC, doc_id LIMIT {k}
"""


_JACCARD_VERIFY = """
sizes AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c
  JOIN tset ta ON ta.doc_id = c.a
  JOIN tset tb ON tb.doc_id = c.b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= {thr}
"""

_SIMHASH_CTE = """
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
th AS (
  SELECT doc_id, tf,
         cast(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h
  FROM tf
),
bits AS (
  SELECT doc_id, j,
         sum(tf * (2 * ((h >> j) & 1) - 1)) AS s
  FROM th, generate_series(0, 59) g(j)
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
)
"""

_COS_EXPR = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> e.embedding[i]::DOUBLE * q.v[i]))"
    " / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform(q.v, x -> x * x))))"
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["term_dict"] = f"WITH {_TOKS} SELECT term, df, cf, max_tf FROM dict"

    sql["doc_stats"] = f"WITH {_TOKS} SELECT doc_id AS docid, dl FROM stats"

    sql["postings_decode"] = (
        f"WITH {_TOKS} SELECT term, doc_id AS docid, tf FROM tdoc"
    )

    sql["bm25_topk"] = _bm25_sql(["table", "join", "merge"])
    sql["bm25_topk_wand"] = _bm25_sql(["hash", "group", "sort"])
    sql["bm25_filtered"] = _bm25_sql(
        ["part", "filter", "table"], where="d.lang IN ('en', 'fr')"
    )

    sql["phrase_match"] = f"""
WITH {_TOKS}
SELECT DISTINCT a.doc_id AS docid
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'part' AND b.term = 'filter'
ORDER BY docid
"""

    sql["prefix_expand"] = (
        f"WITH {_TOKS} SELECT term, df FROM dict WHERE term LIKE 'sc%' ORDER BY term"
    )

    sql["typo_expand"] = f"""
WITH {_TOKS}
SELECT term, df FROM dict
WHERE abs(length(term) - 4) <= 1 AND levenshtein(term, 'tabl') <= 1
ORDER BY levenshtein(term, 'tabl'), term
LIMIT 20
"""

    sql["bm25_paginated"] = f"""
WITH {_TOKS},
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
)
SELECT rank, docid, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
         doc_id AS docid, round(score, {SCORE_ROUND}) AS score
  FROM scores
) WHERE rank > 5 AND rank <= 10
"""

    sql["bm25_negated"] = _bm25_sql(
        ["table", "join"],
        where="td.doc_id NOT IN (SELECT doc_id FROM tdoc WHERE term = 'merge')",
    )
    # synonym-derived 'join' carries SYNONYM_PENALTY=0.5 (config.py)
    sql["bm25_synonyms"] = _bm25_sql({"merge": 1.0, "join": 0.5})
    # stored-settings entry: identical semantics, synonyms come from meta.json
    sql["bm25_stored_settings"] = _bm25_sql({"merge": 1.0, "join": 0.5})

    # multi-word synonym: BM25('merge') + phrase pseudo-term 'part filter'
    # scored SYNONYM_PENALTY(0.5) * idf(phrase df) * tf_p/(tf_p + norm),
    # tf_p = consecutive-occurrence count (QueryPlan.syn_phrases spec)
    sql["bm25_phrase_synonym"] = f"""
WITH {_TOKS},
ph AS (
  SELECT a.doc_id, count(*) AS tfp
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'part' AND b.term = 'filter'
  GROUP BY 1
),
phd AS (SELECT count(*) AS dfp FROM ph),
base AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('merge')
  GROUP BY td.doc_id
),
syn AS (
  SELECT p.doc_id,
         0.5 * ln(1.0 + (c.n - f.dfp + 0.5) / (f.dfp + 0.5))
             * p.tfp / (p.tfp + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) AS score
  FROM ph p
  JOIN stats s ON s.doc_id = p.doc_id
  CROSS JOIN phd f
  CROSS JOIN corpus c
),
scores AS (
  SELECT doc_id, sum(score) AS score
  FROM (SELECT * FROM base UNION ALL SELECT * FROM syn)
  GROUP BY 1
)
SELECT doc_id AS docid, round(score, {SCORE_ROUND}) AS score
FROM scores ORDER BY score DESC, doc_id LIMIT 10
"""
    sql["bm25_match_all"] = _bm25_sql(
        ["table", "join", "merge"], having="count(DISTINCT td.term) = 3"
    )
    # Last strategy: bucket = longest matched prefix of (table, join,
    # merge); folded score = bucket * (sum(idf over the 3 terms) + 1) + bm25
    # — mirrors QueryPlan.word_groups execution exactly
    sql["bm25_last"] = f"""
WITH {_TOKS},
qoff AS (
  SELECT sum(ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))) + 1.0 AS off
  FROM dict di CROSS JOIN corpus c
  WHERE di.term IN ('table', 'join', 'merge')
),
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS bm25,
         (CASE WHEN bool_or(td.term = 'table') THEN 1 ELSE 0 END)
         + (CASE WHEN bool_or(td.term = 'table') AND bool_or(td.term = 'join')
                 THEN 1 ELSE 0 END)
         + (CASE WHEN bool_or(td.term = 'table') AND bool_or(td.term = 'join')
                      AND bool_or(td.term = 'merge') THEN 1 ELSE 0 END) AS wcnt
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
)
SELECT doc_id AS docid, round(bm25 + wcnt * q.off, {SCORE_ROUND}) AS score
FROM scores CROSS JOIN qoff q
ORDER BY score DESC, doc_id LIMIT 10
"""
    # both halves of the split are derived terms: SPLIT_PENALTY=0.5 each
    sql["bm25_word_split"] = _bm25_sql({"table": 0.5, "join": 0.5})
    # typo expansion of 'tabl' (budget 1): candidates ranked (dist, term),
    # capped at 20, each weighted TYPO_PENALTY**dist — mirrors
    # SearchIndex.plan + _expand_typo exactly (config.py frozen penalties)
    sql["bm25_typo_penalty"] = f"""
WITH {_TOKS},
cand AS (
  SELECT term, levenshtein(term, 'tabl') AS dist
  FROM dict
  WHERE abs(length(term) - 4) <= 1 AND levenshtein(term, 'tabl') <= 1
  ORDER BY dist, term LIMIT 20
),
scores AS (
  SELECT td.doc_id,
         sum( power(0.5, cd.dist)
              * ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN cand cd USING (term)
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  GROUP BY td.doc_id
)
SELECT doc_id AS docid, round(score, {SCORE_ROUND}) AS score
FROM scores ORDER BY score DESC, doc_id LIMIT 10
"""

    # prefix expansion of 'sc': every dict term LIKE 'sc%' weighted
    # PREFIX_PENALTY=0.8 (the bare term 'sc' itself, if indexed, keeps 1.0)
    sql["bm25_prefix_rank"] = f"""
WITH {_TOKS},
cand AS (
  SELECT term, CASE WHEN term = 'sc' THEN 1.0 ELSE 0.8 END AS w
  FROM dict WHERE term LIKE 'sc%'
),
scores AS (
  SELECT td.doc_id,
         sum( cd.w * ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN cand cd USING (term)
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  GROUP BY td.doc_id
)
SELECT doc_id AS docid, round(score, {SCORE_ROUND}) AS score
FROM scores ORDER BY score DESC, doc_id LIMIT 10
"""

    # per-term contribution rows for the top-10 of 'table join merge'
    sql["score_details"] = f"""
WITH {_TOKS},
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
),
top AS (SELECT doc_id FROM scores ORDER BY score DESC, doc_id LIMIT 10)
SELECT td.doc_id AS docid, td.term,
       round( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)),
              {SCORE_ROUND}) AS part
FROM tdoc td
JOIN top USING (doc_id)
JOIN dict di USING (term)
JOIN stats s ON s.doc_id = td.doc_id
CROSS JOIN corpus c
WHERE td.term IN ('table', 'join', 'merge')
"""

    # BM25F (field_cols text w=1, source w=2): weighted tf/dl, df = docs
    # containing the term in ANY field, avgdl over weighted dls
    sql["bm25f"] = f"""
WITH ftoks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term, 1 AS w
  FROM documents
  UNION ALL
  SELECT doc_id, unnest(regexp_extract_all(source, '[a-z0-9]+')) AS term, 2 AS w
  FROM documents
),
ftdoc AS (
  SELECT doc_id, term, CAST(sum(w) AS BIGINT) AS tf FROM ftoks GROUP BY 1, 2
),
fstats AS (
  SELECT d.doc_id, coalesce(t.dl, 0) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, CAST(sum(w) AS BIGINT) AS dl FROM ftoks GROUP BY 1) t
    USING (doc_id)
),
fdict AS (SELECT term, count(*) AS df FROM ftdoc GROUP BY 1),
fcorpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM fstats),
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM ftdoc td
  JOIN fdict di USING (term)
  JOIN fstats s ON s.doc_id = td.doc_id
  CROSS JOIN fcorpus c
  WHERE td.term IN ('src1', 'table')
  GROUP BY td.doc_id
)
SELECT doc_id AS docid, round(score, {SCORE_ROUND}) AS score
FROM scores ORDER BY score DESC, doc_id LIMIT 10
"""

    # proximity: min over occurrence pairs of the reference's asymmetric
    # distance (forward pb-pa, backward pa-pb+1), bonus 1/minprox if <= 7
    sql["bm25_proximity"] = f"""
WITH {_TOKS},
prox AS (
  SELECT ta.doc_id,
         min(CASE WHEN tb.pos > ta.pos THEN tb.pos - ta.pos
                  ELSE ta.pos - tb.pos + 1 END) AS mp
  FROM toks ta JOIN toks tb ON ta.doc_id = tb.doc_id
  WHERE ta.term = 'table' AND tb.term = 'join'
  GROUP BY 1
),
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join')
  GROUP BY td.doc_id
)
SELECT sc.doc_id AS docid,
       round(sc.score + coalesce(CASE WHEN p.mp <= 7 THEN 1.0 / greatest(p.mp, 1) END, 0.0),
             {SCORE_ROUND}) AS score
FROM scores sc LEFT JOIN prox p ON p.doc_id = sc.doc_id
ORDER BY score DESC, docid LIMIT 10
"""


    # multi-pair budgeted cost proximity: pairs (table,join) g=1,
    # (join,merge) g=1, (table,merge) g=0.5 -> S=2.5, budget 10; pair cost
    # least(minprox, 8), absent pairs cost 8 (via 8*S minus found savings)
    sql["bm25_proximity_full"] = f"""
WITH {_TOKS},
pairs(ta, tb, g) AS (VALUES ('table','join',1.0), ('join','merge',1.0),
                            ('table','merge',0.5)),
prox AS (
  SELECT p.ta, p.tb, p.g, a.doc_id,
         least(min(CASE WHEN b.pos > a.pos THEN b.pos - a.pos
                        ELSE a.pos - b.pos + 1 END), 8) AS c
  FROM pairs p
  JOIN toks a ON a.term = p.ta
  JOIN toks b ON b.doc_id = a.doc_id AND b.term = p.tb
  GROUP BY 1, 2, 3, 4
),
sav AS (SELECT doc_id, sum(g * (8 - c)) AS saving FROM prox GROUP BY 1),
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
)
SELECT sc.doc_id AS docid,
       round(sc.score
             + greatest(0, 4*2.5 - (8*2.5 - coalesce(sv.saving, 0))) / (4*2.5),
             {SCORE_ROUND}) AS score
FROM scores sc LEFT JOIN sav sv ON sv.doc_id = sc.doc_id
ORDER BY score DESC, docid LIMIT 10
"""


    # exact-attribute exactness: query = the shortest doc's whole text;
    # exact docs (token sequence == query tokens) get +5.0
    sql["bm25_exactness"] = f"""
WITH {_TOKS},
q AS (SELECT regexp_extract_all(text, '[a-z0-9]+') AS qt
      FROM documents ORDER BY length(text), doc_id LIMIT 1),
qterms AS (SELECT DISTINCT unnest(qt) AS term FROM q),
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN dict di USING (term)
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN (SELECT term FROM qterms)
  GROUP BY td.doc_id
),
exact AS (
  SELECT d.doc_id FROM documents d, q
  WHERE regexp_extract_all(d.text, '[a-z0-9]+') = q.qt
)
SELECT sc.doc_id AS docid,
       round(sc.score + CASE WHEN e.doc_id IS NOT NULL THEN 5.0 ELSE 0.0 END,
             {SCORE_ROUND}) AS score
FROM scores sc LEFT JOIN exact e USING (doc_id)
ORDER BY score DESC, docid LIMIT 10
"""

    sql["hybrid_rank"] = f"""
WITH {_TOKS},
kwscore AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
),
kwpool AS (SELECT doc_id, score FROM kwscore ORDER BY score DESC, doc_id LIMIT 30),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
sems AS (SELECT e.vec_id AS doc_id, {_COS_EXPR} AS sim FROM embeddings e, q),
sempool AS (SELECT doc_id, sim FROM sems ORDER BY sim DESC, doc_id LIMIT 30),
fused AS (
  SELECT coalesce(k.doc_id, s.doc_id) AS docid,
         0.5 * coalesce(s.sim / (SELECT max(sim) FROM sempool), 0)
       + 0.5 * coalesce(k.score / (SELECT max(score) FROM kwpool), 0) AS score
  FROM kwpool k FULL OUTER JOIN sempool s ON k.doc_id = s.doc_id
)
SELECT row_number() OVER (ORDER BY score DESC, docid) AS rank,
       docid, round(score, {SCORE_ROUND}) AS score
FROM fused ORDER BY score DESC, docid LIMIT 10
"""
    sql["sort_by_attr"] = f"""
WITH {_TOKS},
cand AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'table')
SELECT row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id) AS rank,
       d.doc_id AS docid, d.n_chars
FROM documents d JOIN cand USING (doc_id)
ORDER BY d.n_chars DESC, d.doc_id
LIMIT 15
"""

    sql["filter_where"] = (
        "SELECT doc_id FROM documents "
        "WHERE lang IN ('en', 'fr') AND n_chars BETWEEN 100 AND 400"
    )

    sql["facet_distribution"] = """
SELECT source AS value, count(*) AS count
FROM documents WHERE lang IS DISTINCT FROM 'zh'
GROUP BY 1 ORDER BY count DESC, value LIMIT 100
"""

    sql["facet_value_search"] = """
WITH counts AS (SELECT source AS value, count(*) AS count FROM documents GROUP BY 1)
SELECT value, count FROM counts
WHERE value LIKE 'src1%' OR levenshtein(value, 'src1') <= 1
ORDER BY count DESC, value LIMIT 5
"""

    sql["facet_stats"] = """
SELECT min(n_chars) AS min_value, max(n_chars) AS max_value
FROM documents WHERE lang = 'en'
"""

    sql["highlight"] = f"""
WITH {_TOKS},
scores AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('table', 'join', 'merge')
  GROUP BY td.doc_id
),
top AS (SELECT doc_id FROM scores ORDER BY score DESC, doc_id LIMIT 5)
SELECT d.doc_id AS docid,
       regexp_replace(d.text, '\\b(table|join|merge)\\b', '<em>\\1</em>', 'g') AS snippet
FROM documents d JOIN top USING (doc_id)
"""

    sql["dedup_exact"] = (
        "SELECT min(doc_id) AS doc_id, count(*) AS dup_count "
        "FROM documents GROUP BY md5(text)"
    )

    sql["dedup_jaccard"] = f"""
WITH {_TOKS},
tset AS (SELECT DISTINCT doc_id, term FROM toks),
sizes AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.4
"""

    # same pair graph as dedup_jaccard, folded to components by a
    # recursive min-label CTE (UNION-distinct terminates the recursion)
    sql["dedup_clusters"] = f"""
WITH RECURSIVE {_TOKS},
tset AS (SELECT DISTINCT doc_id, term FROM toks),
sizes AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.4
),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b, a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
ORDER BY doc_id
"""

    sql["dedup_minhash"] = (
        f"""
WITH {_TOKS},
arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
shing AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS term
  FROM arr
),
tset AS (SELECT DISTINCT doc_id, term FROM shing),
sigs AS (
  SELECT doc_id, seed,
         min(md5(concat(seed, ':', term))) AS sig
  FROM tset, generate_series(0, 15) g(seed)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, cast(seed // 4 AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS bucket
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
"""
        + _JACCARD_VERIFY.format(thr=0.3)
    )

    # cross-corpus variant: new = doc_id % 3 = 0 vs reference = the rest;
    # same shingle-3 MinHash model, band join new x ref (no self-join)
    sql["minhash_novel"] = (
        """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
shing AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS term
  FROM arr
),
tset AS (SELECT DISTINCT doc_id, term FROM shing),
sigs AS (
  SELECT doc_id, seed,
         min(md5(concat(seed, ':', term))) AS sig
  FROM tset, generate_series(0, 15) g(seed)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, cast(seed // 4 AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS bucket
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
),
"""
        + _JACCARD_VERIFY.format(thr=0.2)
    )

    sql["simhash"] = f"WITH {_TOKS}, {_SIMHASH_CTE} SELECT doc_id, simhash FROM sh"

    sql["dedup_simhash"] = f"""
WITH {_TOKS}, {_SIMHASH_CTE},
banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * 15)) & 32767 AS seg
  FROM sh, generate_series(0, 3) g(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.simhash AS ha, b.simhash AS hb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 20
"""

    sql["ann_cosine"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({_COS_EXPR}, 6) AS sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id LIMIT 10
"""

    sql["ann_cosine_batch"] = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.qid, e.vec_id, round({_COS_EXPR}, 6) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.qid
)
SELECT qid, vec_id, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""

    # hyperplane-LSH ANN: planes derived from md5 exactly as in
    # pipelines/similarity.py (_plane_component); dims = 64 in this corpus
    sql["ann_lsh"] = """
WITH planes AS (
  SELECT p, list_transform(range(0, 64),
         d -> cast(concat('0x', substr(md5(concat(p, ':', d)), 1, 15)) AS BIGINT)::DOUBLE
              / 576460752303423488.0 - 1.0) AS pv
  FROM generate_series(0, 11) g(p)
),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 1),
qb AS (
  SELECT sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> q.v[i] * pl.pv[i])) > 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END) AS bucket
  FROM planes pl, q
),
eb AS (
  SELECT e.vec_id, e.embedding,
         sum(CASE WHEN list_sum(list_transform(range(1, 65),
                      i -> e.embedding[i]::DOUBLE * pl.pv[i])) > 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END) AS bucket
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, e.embedding
),
cand AS (
  SELECT eb.vec_id, eb.embedding
  FROM eb, qb
  WHERE bit_count(xor(eb.bucket, qb.bucket)) <= 1
)
SELECT e.vec_id,
       round(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.v[i]))
             / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(q.v, x -> x * x)))), 6) AS sim
FROM cand e, q
ORDER BY sim DESC, e.vec_id LIMIT 10
"""

    # IVF-Flat ANN: centroids = 16 vectors with smallest md5(vec_id) (same
    # deterministic sample as pipelines/similarity.ivf_assignments), assign
    # to nearest centroid by cosine (ties -> smaller cid), probe top-4
    # lists for query vec_id=2, exact re-rank inside
    sql["ann_ivf"] = """
WITH ranked AS (
  SELECT vec_id, embedding::DOUBLE[] AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid
  FROM embeddings
),
cents AS (SELECT cid, cvec FROM ranked WHERE cid < 16),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 2),
asgn AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> e.embedding[i]::DOUBLE * c.cvec[i]))
                    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                       * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) DESC,
                    c.cid ASC
         ) AS rn
  FROM embeddings e, cents c
),
probe AS (
  SELECT c.cid FROM cents c, q
  ORDER BY list_sum(list_transform(range(1, len(q.v) + 1), i -> c.cvec[i] * q.v[i]))
           / (sqrt(list_sum(list_transform(c.cvec, x -> x * x)))
              * sqrt(list_sum(list_transform(q.v, x -> x * x)))) DESC,
           c.cid ASC
  LIMIT 4
)
SELECT e.vec_id, round({cos}, 6) AS sim
FROM (SELECT vec_id, embedding, cid FROM asgn WHERE rn = 1) e
JOIN probe USING (cid), q
ORDER BY sim DESC, e.vec_id LIMIT 10
""".format(cos=_COS_EXPR)

    # streaming stateful dedup batch parity: first (min doc_id) occurrence
    # of each exact text content survives
    sql["dedup_stream"] = """
SELECT doc_id, text, lang, source, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
"""

    # embedding-cosine near-dup pairs: 16 md5-derived hyperplanes exactly as
    # pipelines/similarity.cosine_near_dup_pairs; 4 bands x 4 bits; exact
    # cosine >= 0.4 verified on candidates only
    sql["dedup_embedding"] = """
WITH planes AS (
  SELECT p, list_transform(range(0, 64),
         d -> cast(concat('0x', substr(md5(concat(p, ':', d)), 1, 15)) AS BIGINT)::DOUBLE
              / 576460752303423488.0 - 1.0) AS pv
  FROM generate_series(0, 15) g(p)
),
sk AS (
  SELECT e.vec_id, e.embedding,
         sum(CASE WHEN list_sum(list_transform(range(1, 65),
                      i -> e.embedding[i]::DOUBLE * pl.pv[i])) > 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END) AS sketch
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, e.embedding
),
banded AS (
  SELECT vec_id, embedding, band, (sketch >> (band * 4)) & 15 AS seg
  FROM sk, generate_series(0, 3) g(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
         a.embedding AS ea, b.embedding AS eb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.seg = b.seg AND a.vec_id < b.vec_id
)
SELECT a, b,
       round(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
FROM cand
WHERE round(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
               * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.4
"""

    # pluggable-embedder slot: md5-projection bag-of-words (the exact
    # pipelines/embed.HashedBowEmbedder formula), L2-normalized, exploded
    sql["embed_docs"] = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
  FROM documents
),
comp AS (
  SELECT t.doc_id, g.d,
         sum(cast(concat('0x', substr(md5(concat(t.term, ':', g.d)), 1, 15)) AS BIGINT)::DOUBLE
             / 576460752303423488.0 - 1.0) AS s
  FROM toks t CROSS JOIN generate_series(0, 7) g(d)
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, sqrt(sum(s * s)) AS nrm FROM comp GROUP BY 1)
SELECT cast(dd.doc_id AS BIGINT) AS doc_id, g.d::INT AS d,
       round(coalesce(c.s / greatest(n.nrm, 1e-12), 0.0), 6) + 0.0 AS v
FROM documents dd CROSS JOIN generate_series(0, 7) g(d)
LEFT JOIN comp c ON c.doc_id = dd.doc_id AND c.d = g.d
LEFT JOIN norms n ON n.doc_id = dd.doc_id
ORDER BY 1, 2
"""

    # templated prompt '{{lang}}: {{text}}' rendered as concat before the
    # same md5-BoW embedding as embed_docs
    sql["embed_docs_template"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(concat(lang, ': ', text), '[a-z0-9]+')) AS term
  FROM documents
),
comp AS (
  SELECT t.doc_id, g.d,
         sum(cast(concat('0x', substr(md5(concat(t.term, ':', g.d)), 1, 15)) AS BIGINT)::DOUBLE
             / 576460752303423488.0 - 1.0) AS s
  FROM toks t CROSS JOIN generate_series(0, 7) g(d)
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, sqrt(sum(s * s)) AS nrm FROM comp GROUP BY 1)
SELECT cast(dd.doc_id AS BIGINT) AS doc_id, g.d::INT AS d,
       round(coalesce(c.s / greatest(n.nrm, 1e-12), 0.0), 6) + 0.0 AS v
FROM documents dd CROSS JOIN generate_series(0, 7) g(d)
LEFT JOIN comp c ON c.doc_id = dd.doc_id AND c.d = g.d
LEFT JOIN norms n ON n.doc_id = dd.doc_id
ORDER BY 1, 2
"""

    sql["token_stats"] = f"""
WITH {_TOKS},
agg AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_uniq,
         CAST(sum(length(term)) AS BIGINT) AS n_chars_tok
  FROM toks GROUP BY 1
)
SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_uniq, 0) AS n_uniq, coalesce(a.n_chars_tok, 0) AS n_chars_tok
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

    stop_list = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    sql["quality_score"] = f"""
WITH {_TOKS},
agg AS (
  SELECT doc_id,
         count(*) AS n,
         sum(length(term)) AS chars,
         count(*) FILTER (WHERE term IN ({stop_list})) AS sw,
         count(DISTINCT term) AS uniq,
         count(*) FILTER (WHERE regexp_full_match(term, '[0-9]+')) AS dig
  FROM toks GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.n, 0) AS n_tokens,
       round(coalesce(a.chars, 0) / greatest(coalesce(a.n, 0)::DOUBLE, 1.0), 6) AS avg_token_len,
       round(coalesce(a.sw, 0) / greatest(coalesce(a.n, 0)::DOUBLE, 1.0), 6) AS stopword_ratio,
       round(coalesce(a.uniq, 0) / greatest(coalesce(a.n, 0)::DOUBLE, 1.0), 6) AS uniq_ratio,
       round(coalesce(a.dig, 0) / greatest(coalesce(a.n, 0)::DOUBLE, 1.0), 6) AS digit_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

    marker_cases = []
    for lang, words in sorted(textstats.LANG_MARKERS.items()):
        wl = ", ".join(f"'{w}'" for w in words)
        marker_cases.append(
            f"count(DISTINCT term) FILTER (WHERE term IN ({wl})) AS s_{lang}"
        )
    sql["lang_id"] = f"""
WITH {_TOKS},
sc AS (
  SELECT doc_id, {', '.join(marker_cases)}
  FROM toks GROUP BY 1
),
best AS (
  SELECT d.doc_id,
         coalesce(sc.s_de, 0) AS s_de, coalesce(sc.s_en, 0) AS s_en,
         coalesce(sc.s_es, 0) AS s_es, coalesce(sc.s_fr, 0) AS s_fr,
         greatest(coalesce(sc.s_de, 0), coalesce(sc.s_en, 0),
                  coalesce(sc.s_es, 0), coalesce(sc.s_fr, 0)) AS mx
  FROM documents d LEFT JOIN sc USING (doc_id)
)
SELECT doc_id,
       CASE WHEN mx = 0 THEN 'und'
            WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en'
            WHEN s_es = mx THEN 'es' ELSE 'fr' END AS pred_lang,
       mx AS marker_hits
FROM best
"""

    sql["doc_fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(regexp_extract_all(text, '[a-z0-9]+'), ' ')) AS fp
FROM documents
"""

    # 5-gram decontamination vs the doc_id % 97 == 0 probe set; partial
    # shingle (whole doc) for 0 < len < 5 exactly as shingle_expr
    sql["decontaminate"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
shing AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS g
  FROM arr WHERE len(t) > 0
),
dg AS (SELECT DISTINCT doc_id, g FROM shing),
pg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0)
SELECT d.doc_id, count(*) AS n_hits
FROM dg d JOIN pg USING (g)
GROUP BY 1
"""


    # Bloom variant is output-identical to decontaminate (exact confirm
    # join behind the prefilter), so the oracle is the same exact SQL
    sql["decontaminate_bloom"] = sql["decontaminate"]
    # stream-static variant drains to the same per-doc counts as batch
    sql["decontaminate_stream"] = sql["decontaminate"]

    # fixed-n per stratum: first 40 rows of each lang by (md5('7:'||id), id)
    sql["stratified_sample_n"] = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('7:', doc_id::VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 40
"""

    # interpolated self-trained bigram LM (lam=0.75 toward the bigram MLE,
    # 0.25 toward the unigram); transitions only, <2-token docs NULL
    sql["bigram_logloss"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
  FROM arr, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
tf AS (SELECT doc_id, prev, cur, count(*) AS bf FROM bg GROUP BY 1, 2, 3),
bvoc AS (SELECT prev, cur, CAST(sum(bf) AS DOUBLE) AS cbg FROM tf GROUP BY 1, 2),
ctx AS (SELECT prev, CAST(sum(bf) AS DOUBLE) AS cprev FROM tf GROUP BY 1),
toks AS (SELECT doc_id, unnest(t) AS term FROM arr),
uni AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM toks GROUP BY 1),
tot AS (SELECT sum(cf) AS n FROM uni),
scored AS (
  SELECT tf.doc_id,
         sum(bf) AS n_bigrams,
         -sum(bf * log2(0.75 * b.cbg / c.cprev + 0.25 * u.cf / t.n))
           / sum(bf) AS ce
  FROM tf
  JOIN bvoc b USING (prev, cur)
  JOIN ctx c USING (prev)
  JOIN uni u ON u.term = tf.cur
  CROSS JOIN tot t
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(s.ce, 6) AS cross_entropy,
       round(pow(2.0, s.ce), 6) AS perplexity
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY 1
"""

    # corpus-self-trained unigram LM cross-entropy / perplexity per doc
    sql["unigram_logloss"] = f"""
WITH {_TOKS},
vocab AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tdoc GROUP BY 1),
tot AS (SELECT sum(cf) AS n FROM vocab),
scored AS (
  SELECT td.doc_id,
         sum(td.tf) AS n_tokens,
         -sum(td.tf * log2(v.cf / t.n)) / sum(td.tf) AS ce
  FROM tdoc td JOIN vocab v USING (term) CROSS JOIN tot t
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(s.ce, 6) AS cross_entropy,
       round(pow(2.0, s.ce), 6) AS perplexity
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY 1
"""

    sql["repetition_stats"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1]))) AS gram
  FROM arr WHERE len(t) > 0
),
gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng, count(*) AS ndist,
              CAST(max(c) AS BIGINT) AS topc
       FROM gc GROUP BY 1)
SELECT a.doc_id,
       len(a.t) AS n_tokens,
       round(CASE WHEN len(a.t) > 0
                  THEN (len(a.t) - len(list_distinct(a.t))) / len(a.t)::DOUBLE
                  ELSE 0.0 END, 6) AS dup_word_frac,
       round(coalesce((gs.ng - gs.ndist) / gs.ng::DOUBLE, 0.0), 6) AS dup_ngram_frac,
       round(coalesce(gs.topc / gs.ng::DOUBLE, 0.0), 6) AS top_ngram_frac
FROM arr a LEFT JOIN gs USING (doc_id)
"""

    # same RE2-safe patterns, same order (emails first so an address's
    # digits can't be half-eaten by the phone pattern); DuckDB needs the
    # explicit 'g' flag where Spark's regexp_replace is global by default
    sql["pii_redact"] = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\+\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS text_redacted,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
       len(regexp_extract_all(text, '\+\d[\d\- ]{7,}\d')) AS n_phones
FROM documents ORDER BY doc_id
"""

    # md5 coin u = int(md5('7:'||id)[:15 hex]) / 2^60, keep iff u < rate(lang)
    sql["stratified_sample"] = """
SELECT doc_id, lang FROM documents
WHERE cast(concat('0x', substr(md5(concat('7:', doc_id::VARCHAR)), 1, 15)) AS BIGINT)::DOUBLE
        / 1152921504606846976.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'zh' THEN 0.75
                  ELSE 0.0 END
"""

    sql["multimodal_features"] = """
SELECT doc_id,
       strlen(text) AS n_bytes,
       md5(text) AS content_md5,
       cast(concat('0x', substr(md5(text), 1, 2)) AS INT) % 64 + 1 AS fake_w,
       cast(concat('0x', substr(md5(text), 3, 2)) AS INT) % 64 + 1 AS fake_h
FROM documents
"""

    sql["multimodal_resize"] = """
WITH f AS (
  SELECT doc_id, text,
         cast(concat('0x', substr(md5(text), 1, 2)) AS INT) % 64 + 1 AS fake_w,
         cast(concat('0x', substr(md5(text), 3, 2)) AS INT) % 64 + 1 AS fake_h
  FROM documents
)
SELECT doc_id,
       least(fake_w, 32) AS out_w,
       least(fake_h, 32) AS out_h,
       md5(concat(text, ':', least(fake_w, 32), 'x', least(fake_h, 32))) AS thumb_md5
FROM f
"""

    # frame sampling: every 4th 64-byte window -> stride 256; text is
    # ASCII-only in the synthetic corpus so string substr == byte slicing
    sql["multimodal_frames"] = """
SELECT doc_id,
       CAST(off // 256 AS INT) AS frame_idx,
       off AS frame_offset,
       CAST(strlen(substr(text, CAST(off AS INT) + 1, 64)) AS INT) AS frame_bytes,
       md5(substr(text, CAST(off AS INT) + 1, 64)) AS frame_md5
FROM documents, unnest(generate_series(0, strlen(text) - 1, 256)) AS t(off)
"""

    # REAL WAV decode roundtrip: the engine synthesizes + wave-encodes +
    # parses; the oracle evaluates synth_wav's integer sample formula
    # analytically (sum of squares exact in float64 -> bit-identical RMS)
    sql["multimodal_audio"] = """
WITH f AS (
  SELECT doc_id, 800 + (doc_id % 5) * 160 AS n_frames FROM documents
),
s AS (
  SELECT f.doc_id,
         ((f.doc_id * 7919 + g.i * 997) % 65536) - 32768 AS v
  FROM f, LATERAL (SELECT unnest(range(0, f.n_frames)) AS i) g
),
agg AS (SELECT doc_id, sum(v * v) AS ss, count(*) AS n FROM s GROUP BY 1)
SELECT f.doc_id,
       1 AS channels, 8000 AS sample_rate,
       CAST(f.n_frames AS BIGINT) AS n_frames,
       round(f.n_frames / 8000.0, 6) AS duration_s,
       round(sqrt(a.ss * 1.0 / a.n), 6) AS rms
FROM f JOIN agg a USING (doc_id) ORDER BY 1
"""

    # mixture weights: target shares normalized by the SAME python code as
    # the operator, injected as repr'd double literals (repr roundtrips, so
    # both engines hold bit-identical doubles); single-division floats
    _mz = float(sum(_MIX_TARGET.values()))
    _mix_case = (
        "CASE p.stratum "
        + " ".join(
            f"WHEN '{k}' THEN {v / _mz!r}::DOUBLE"
            for k, v in sorted(_MIX_TARGET.items())
        )
        + " ELSE 0.0::DOUBLE END"
    )
    sql["mixture_weights"] = f"""
WITH per AS (
  SELECT lang AS stratum, count(*) AS n_docs,
         sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS t FROM per)
SELECT p.stratum, p.n_docs, p.n_tokens::BIGINT AS n_tokens,
       p.n_tokens::DOUBLE / tot.t::DOUBLE AS corpus_share,
       {_mix_case} AS target_share,
       {_mix_case} / (p.n_tokens::DOUBLE / tot.t::DOUBLE) AS weight
FROM per p, tot ORDER BY p.stratum
"""

    # per-host stats: one GROUP BY on the site key; floats are single
    # float64 divisions of exact integer aggregates (bit-identical)
    sql["host_stats"] = """
SELECT source AS host,
       count(*) AS n_docs,
       sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT
         AS n_tokens,
       sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::DOUBLE
         / count(*)::DOUBLE AS avg_doc_tokens,
       count(DISTINCT md5(text)) AS n_unique_texts,
       (count(*) - count(DISTINCT md5(text)))::DOUBLE / count(*)::DOUBLE
         AS dup_frac
FROM documents GROUP BY 1 ORDER BY 1
"""

    # sequence packing: window cumsum over doc order, spans cut at
    # multiples of 128 (the Spark side does the same cumsum scalably)
    sql["pack_sequences"] = """
WITH n AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         (sum(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n)::BIGINT AS start
  FROM n
),
e AS (SELECT doc_id, n, start, start + n AS stop FROM c WHERE n > 0),
w AS (
  SELECT doc_id, start, stop,
         unnest(range(start // 128, (stop - 1) // 128 + 1)) AS seq_id
  FROM e
)
SELECT seq_id::BIGINT AS seq_id, doc_id,
       (greatest(start, seq_id * 128) - start)::BIGINT AS doc_start,
       (greatest(start, seq_id * 128) - seq_id * 128)::BIGINT AS seq_start,
       (least(stop, (seq_id + 1) * 128)
        - greatest(start, seq_id * 128))::BIGINT AS span_len
FROM w ORDER BY seq_id, doc_id
"""

    # image analogue of multimodal_audio: the oracle evaluates synth_bmp's
    # integer pixel formula with range() joins; mean_px = exact integer
    # sum / count in one float64 division (identical double on both sides)
    sql["multimodal_image"] = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id,
         ((d.doc_id * 31 + r.i * 17 + c.i * 7 + k.i * 3) % 256) AS v
  FROM d,
  LATERAL (SELECT unnest(range(0, d.h)) AS i) r,
  LATERAL (SELECT unnest(range(0, d.w)) AS i) c,
  LATERAL (SELECT unnest(range(0, 3)) AS i) k
),
agg AS (SELECT doc_id, sum(v) AS s, count(*) AS n FROM px GROUP BY 1)
SELECT d.doc_id, d.w::INT AS width, d.h::INT AS height, 3 AS channels,
       a.s * 1.0 / a.n AS mean_px
FROM d JOIN agg a USING (doc_id) ORDER BY 1
"""

    # multimodal_png decodes to the exact same features as multimodal_image
    # by construction (synth_png shares synth_bmp's pixel formula); the
    # filter rotation only changes the wire bytes, not the raster
    sql["multimodal_png"] = sql["multimodal_image"]

    # baseline JPEG: grayscale, constant per 8x8 block -> exact round trip
    # (synth_jpeg block formula; mean over blocks == mean over pixels)
    sql["multimodal_jpeg"] = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb FROM documents
),
px AS (
  SELECT d.doc_id,
         ((d.doc_id * 37 + r.i * 19 + c.i * 11) % 256) AS v
  FROM d,
  LATERAL (SELECT unnest(range(0, d.hb)) AS i) r,
  LATERAL (SELECT unnest(range(0, d.wb)) AS i) c
),
agg AS (SELECT doc_id, sum(64 * v) AS s, 64 * count(*) AS n FROM px GROUP BY 1)
SELECT d.doc_id, (8 * d.wb)::INT AS width, (8 * d.hb)::INT AS height,
       1 AS channels, a.s * 1.0 / a.n AS mean_px
FROM d JOIN agg a USING (doc_id) ORDER BY 1
"""

    # cross-document duplicate n-gram fraction (n=3); same partial-shingle
    # edge semantics as decontaminate (whole doc for 0 < len < 3)
    sql["dup_ngram_cross"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
shing AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM arr WHERE len(t) > 0
),
dg AS (SELECT DISTINCT doc_id, g FROM shing),
dfreq AS (SELECT g, count(*) AS dc FROM dg GROUP BY 1),
per AS (
  SELECT d.doc_id, count(*) AS ng,
         sum(CASE WHEN f.dc > 1 THEN 1 ELSE 0 END) AS nd
  FROM dg d JOIN dfreq f USING (g) GROUP BY 1
)
SELECT doc.doc_id,
       coalesce(per.ng, 0) AS n_grams,
       CAST(coalesce(per.nd, 0) AS BIGINT) AS n_dup_grams,
       round(CASE WHEN coalesce(per.ng, 0) > 0
                  THEN coalesce(per.nd, 0) / per.ng::DOUBLE ELSE 0.0 END, 6) AS dup_frac
FROM documents doc LEFT JOIN per USING (doc_id)
ORDER BY doc_id
"""

    # URL canonicalization over the same deterministic doc_id%5 synthesis as
    # _q_url_canon; rules mirror curation.canonicalize_urls 1:1 (DuckDB's
    # array_to_string on an empty list is NULL -> coalesce to '')
    sql["url_canon"] = r"""
WITH u AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'https://WWW.' || source || '.Example.com:443/A/B/?utm_source=x&b=2&a=1#frag'
           WHEN 1 THEN 'http://' || source || '.example.com:80/A/B'
           WHEN 2 THEN 'HTTPS://www.' || source || '.EXAMPLE.com/A/B?z=26&y=25&fbclid=abc'
           WHEN 3 THEN source || '.example.com/not-a-url'
           ELSE '  https://' || source || '.example.com/  '
         END AS url
  FROM documents
),
p AS (
  SELECT doc_id, url, trim(url) AS raw,
         lower(regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth,
         regexp_replace(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
         regexp_extract(trim(url), '\?([^#]*)', 1) AS q
  FROM u
),
h AS (
  SELECT *, regexp_replace(
           CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                ELSE auth END, '^www\.', '') AS host,
         coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref|ref_src)(=|$)'))), '&'), '') AS qs
  FROM p
)
SELECT doc_id, url,
       CASE WHEN scheme = '' THEN lower(raw)
            ELSE scheme || '://' || host || path ||
                 CASE WHEN qs = '' THEN '' ELSE '?' || qs END END AS url_canon,
       CASE WHEN scheme = '' THEN '' ELSE host END AS url_host
FROM h ORDER BY doc_id
"""

    # Gopher rules: conditions evaluate on the ROUNDED ratios exactly as the
    # engine column defs do; concat_ws skips NULL reason slots in both engines
    stop_cols = " + ".join(
        f"list_contains(t, '{w}')::INT" for w in textstats.GOPHER_STOPWORDS
    )
    sql["gopher_filter"] = f"""
WITH arr AS (SELECT doc_id, text, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
f AS (
  SELECT doc_id, len(t) AS n,
         coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS chars,
         (length(text) - length(replace(text, '#', ''))) / 1.0
           + (length(text) - length(replace(text, '...', ''))) / 3.0
           + (length(text) - length(replace(text, '…', ''))) / 1.0 AS n_sym,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         {stop_cols} AS stop_hits
  FROM arr
),
g AS (
  SELECT doc_id, n, stop_hits,
         round(chars / greatest(n::DOUBLE, 1.0), 6) AS mean_word_len,
         round(n_sym / greatest(n::DOUBLE, 1.0), 6) AS symbol_ratio,
         round(n_alpha / greatest(n::DOUBLE, 1.0), 6) AS alpha_frac
  FROM f
)
SELECT doc_id,
       n AS n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
       NOT (n < 50 OR n > 100000) AND NOT (mean_word_len < 3.0 OR mean_word_len > 10.0)
         AND NOT (symbol_ratio > 0.1) AND NOT (alpha_frac < 0.8)
         AND NOT (stop_hits < 2) AS keep,
       concat_ws(',',
         CASE WHEN n < 50 OR n > 100000 THEN 'words' END,
         CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_len' END,
         CASE WHEN symbol_ratio > 0.1 THEN 'symbols' END,
         CASE WHEN alpha_frac < 0.8 THEN 'alpha' END,
         CASE WHEN stop_hits < 2 THEN 'stop' END) AS reasons
FROM g ORDER BY doc_id
"""

    # duplicated-passage spans (L=8 stride-1 windows, cross-doc dup, span
    # merge with gap <= L); window pos is 0-based = unnest index - 1
    L = 8
    gram8 = "concat_ws(' ', " + ", ".join(f"t[i+{j}]" for j in range(L)) + ")"
    sql["dup_passages"] = f"""
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
win AS (
  SELECT doc_id, len(t) AS n_toks, g.i - 1 AS pos, {gram8} AS gram
  FROM arr, LATERAL (
    SELECT unnest(range(1, greatest(len(t) - {L - 1}, 1) + 1)) AS i) g
  WHERE len(t) > 0
),
dup AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS dc FROM win GROUP BY 1)
  WHERE dc > 1
),
hits AS (SELECT w.doc_id, w.n_toks, w.pos FROM win w JOIN dup USING (gram)),
m AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {L}
              THEN 1 ELSE 0 END AS ns
  FROM hits
),
s AS (
  SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS span_id
  FROM m
)
SELECT doc_id,
       min(pos) AS span_start,
       least(max(pos) + {L}, any_value(n_toks)) AS span_end,
       least(max(pos) + {L}, any_value(n_toks)) - min(pos) AS n_tokens_span,
       count(*) AS n_windows
FROM s GROUP BY doc_id, span_id
ORDER BY doc_id, span_start
"""

    # search_many: the multi-query BM25 — same score formula as _bm25_sql,
    # grouped by (query_id, doc) with a per-query rank window
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, text in _BATCH_QUERIES
        for t in dict.fromkeys(text.split())
    )
    sql["search_many"] = f"""
WITH {_TOKS},
q(query_id, term) AS (VALUES {qvals}),
scores AS (
  SELECT q.query_id, td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td
  JOIN q ON q.term = td.term
  JOIN dict di ON di.term = td.term
  JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id AS docid, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scores
)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank, docid,
       round(score, {SCORE_ROUND}) AS score
FROM ranked WHERE rank <= 10
"""

    sql["dedup_lines"] = """
WITH segs AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' line '), 1) AS pos,
         unnest(string_split(text, ' line ')) AS seg
  FROM documents
),
heavy AS (
  SELECT seg FROM (
    SELECT seg, count(DISTINCT doc_id) AS dc FROM segs GROUP BY 1
  ) WHERE dc >= 2
),
kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM heavy)),
agg AS (
  SELECT doc_id, string_agg(seg, ' line ' ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY 1
),
nseg AS (
  SELECT doc_id, len(string_split(text, ' line ')) AS n_segments
  FROM documents
)
SELECT n.doc_id, coalesce(a.text_clean, '') AS text_clean,
       n.n_segments::INT AS n_segments,
       (n.n_segments - coalesce(a.n_kept, 0))::INT AS n_removed
FROM nseg n LEFT JOIN agg a USING (doc_id)
"""

    sql["dedup_keep"] = f"""
WITH RECURSIVE {_TOKS},
tset AS (SELECT DISTINCT doc_id, term FROM toks),
sizes AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.4
),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b, a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       l.doc_id = l.cluster_id AS keep
FROM labels l JOIN csizes s USING (cluster_id)
ORDER BY l.doc_id
"""

    # build_metrics: intentionally no oracle (lineage rows; rows-only check)
    # --- round-5 session-4 widening: text analytics + SemDeDup + stream index
    sql["token_entropy"] = f"""
WITH {_TOKS},
per AS (
  SELECT doc_id, sum(tf) AS dl, count(*) AS nu,
         sum(tf * log2(tf)) AS s
  FROM tdoc GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.dl, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.nu, 0) AS BIGINT) AS n_uniq,
       round(log2(p.dl) - p.s / p.dl, 6) AS entropy,
       CASE WHEN p.nu > 1
            THEN round((log2(p.dl) - p.s / p.dl) / log2(p.nu), 6)
       END AS norm_entropy
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY 1
"""

    sql["tfidf_topk"] = f"""
WITH {_TOKS},
dfreq AS (SELECT term, count(*) AS doc_freq FROM tdoc GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, f.doc_freq,
         round(t.tf * ln(n.n / f.doc_freq), 6) AS tfidf
  FROM tdoc t JOIN dfreq f USING (term) CROSS JOIN n
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, doc_freq, tfidf, rank
FROM rk WHERE rank <= 5 ORDER BY doc_id, rank
"""

    sql["pmi_bigrams"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
  FROM arr WHERE len(t) >= 2
),
pair AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
btot AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS B FROM pair),
toks AS (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term FROM documents),
uni AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM toks GROUP BY 1),
ttot AS (SELECT sum(cf) AS T FROM uni)
SELECT p.w1, p.w2, p.n_pair,
       round(ln((p.n_pair / bt.B) / ((u1.cf / tt.T) * (u2.cf / tt.T))), 6) AS pmi
FROM pair p
JOIN uni u1 ON u1.term = p.w1
JOIN uni u2 ON u2.term = p.w2
CROSS JOIN btot bt CROSS JOIN ttot tt
WHERE p.n_pair >= 5
ORDER BY pmi DESC, p.w1, p.w2 LIMIT 20
"""

    # cutoff literals printed via repr() so the DuckDB double parses to the
    # exact bits Spark's 1/3 and 2/3 doubles hold
    sql["perplexity_buckets"] = f"""
WITH {_TOKS},
vocab AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tdoc GROUP BY 1),
tot AS (SELECT sum(cf) AS n FROM vocab),
scored0 AS (
  SELECT td.doc_id,
         -sum(td.tf * log2(v.cf / t.n)) / sum(td.tf) AS ce
  FROM tdoc td JOIN vocab v USING (term) CROSS JOIN tot t
  GROUP BY 1
),
scored AS (
  SELECT d.doc_id, round(s.ce, 6) AS cross_entropy
  FROM documents d LEFT JOIN scored0 s USING (doc_id)
),
cuts AS (
  SELECT quantile_cont(cross_entropy, [{1 / 3!r}, {2 / 3!r}]) AS cuts
  FROM scored WHERE cross_entropy IS NOT NULL
)
SELECT s.doc_id, s.cross_entropy,
       CASE WHEN s.cross_entropy IS NOT NULL THEN
         CAST(len(list_filter(list_transform(c.cuts, x -> round(x, 6)),
                  x -> s.cross_entropy > x)) AS INT) END AS bucket
FROM scored s CROSS JOIN cuts c
ORDER BY s.doc_id
"""

    sql["semantic_dedup"] = """
WITH ranked AS (
  SELECT vec_id, embedding::DOUBLE[] AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid
  FROM embeddings
),
cents AS (SELECT cid, cvec FROM ranked WHERE cid < 16),
asgn AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> e.embedding[i]::DOUBLE * c.cvec[i]))
                    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                       * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) DESC,
                    c.cid ASC
         ) AS rn
  FROM embeddings e, cents c
),
A AS (SELECT vec_id, embedding, cid FROM asgn WHERE rn = 1),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM A a JOIN A b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(
      list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)
      >= 0.2
)
SELECT a.vec_id, a.cid, (r.vec_id IS NULL) AS keep
FROM A a LEFT JOIN removed r ON a.vec_id = r.vec_id
ORDER BY a.vec_id
"""

    # stream-built index == batch-built index: the oracle is the ordinary
    # batch BM25 SQL — hash equality proves the incremental path converges
    sql["bm25_stream_index"] = _bm25_sql(["window", "scan", "batch"])

    # IVF probe over the materialized partitioned store: same math as
    # ann_ivf (the store only changes the physical layout), query vec 7
    sql["ann_ivf_store"] = sql["ann_ivf"].replace("vec_id = 2", "vec_id = 7")

    sql["ngram_top"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t FROM documents),
shing AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
  FROM arr WHERE len(t) > 0
)
SELECT gram, count(*) AS n_occurrences
FROM shing GROUP BY 1 HAVING count(*) >= 2
ORDER BY n_occurrences DESC, gram LIMIT 100
"""

    sql["index_stats"] = f"""
WITH {_TOKS}
SELECT stat, value FROM (
  SELECT 'n_docs' AS stat, CAST(count(*) AS DOUBLE) AS value FROM documents
  UNION ALL SELECT 'avgdl', round(avg(dl), 6) FROM stats
  UNION ALL SELECT 'n_terms', CAST(count(*) AS DOUBLE) FROM dict
  UNION ALL SELECT 'n_postings', CAST(sum(df) AS DOUBLE) FROM dict
  UNION ALL SELECT 'total_tokens', CAST(sum(cf) AS DOUBLE) FROM dict
  UNION ALL SELECT 'field_lang', CAST(count(lang) AS DOUBLE) FROM documents
  UNION ALL SELECT 'field_source', CAST(count(source) AS DOUBLE) FROM documents
  UNION ALL SELECT 'field_n_chars', CAST(count(n_chars) AS DOUBLE) FROM documents
) ORDER BY stat
"""

    # S7 snapshot serves identically to the source index: ordinary BM25 SQL
    sql["bm25_snapshot"] = _bm25_sql(["filter", "sort", "data"])

    # O1 match positions: stored-position round trip vs text recomputation
    sql["match_positions"] = f"""
WITH {_TOKS}
SELECT term, doc_id AS docid, CAST(pos AS BIGINT) AS pos
FROM toks WHERE term IN ('part', 'filter')
ORDER BY term, docid, pos
"""

    # RRF hybrid: rank-only fusion, 1/(60+rank) per pool, no normalization
    sql["hybrid_rrf"] = f"""
WITH {_TOKS},
kwscore AS (
  SELECT td.doc_id,
         sum( ln(1.0 + (c.n - di.df + 0.5) / (di.df + 0.5))
              * td.tf / (td.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl / c.avgdl)) ) AS score
  FROM tdoc td JOIN dict di USING (term) JOIN stats s ON s.doc_id = td.doc_id
  CROSS JOIN corpus c
  WHERE td.term IN ('hash', 'group', 'sort')
  GROUP BY td.doc_id
),
kwpool AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM kwscore ORDER BY score DESC, doc_id LIMIT 30
),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 9),
sems AS (SELECT e.vec_id AS doc_id, {_COS_EXPR} AS sim FROM embeddings e, q),
sempool AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
  FROM sems ORDER BY sim DESC, doc_id LIMIT 30
),
fused AS (
  SELECT coalesce(k.doc_id, s.doc_id) AS docid,
         coalesce(1.0 / (60 + k.r), 0) + coalesce(1.0 / (60 + s.r), 0) AS score
  FROM kwpool k FULL OUTER JOIN sempool s ON k.doc_id = s.doc_id
)
SELECT row_number() OVER (ORDER BY score DESC, docid) AS rank,
       docid, round(score, {SCORE_ROUND}) AS score
FROM fused ORDER BY score DESC, docid LIMIT 10
"""

    # did-you-mean: budgets frozen from typo_config thresholds (len>=5 -> 1)
    sql["suggest_typos"] = f"""
WITH {_TOKS},
qw(term, budget) AS (VALUES
  ('tablee', 1), ('windoq', 1), ('filtir', 1), ('merge', 1), ('zzzzzz', 1)),
cand AS (
  SELECT q.term, d.term AS suggestion,
         CAST(levenshtein(d.term, q.term) AS INT) AS dist, d.df
  FROM qw q JOIN dict d
    ON abs(length(d.term) - length(q.term)) <= q.budget
   AND levenshtein(d.term, q.term) <= q.budget
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY term ORDER BY dist, df DESC, suggestion) AS rn
  FROM cand
)
SELECT term, suggestion, dist, df FROM rk WHERE rn = 1 ORDER BY term
"""

    # IVF-PQ / IVFADC: coarse probe + residual-PQ codes + per-cid ADC table
    sql["ann_ivf_pq"] = """
WITH ranked AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS rk
  FROM embeddings
),
cents AS (SELECT rk AS cid, v AS cvec FROM ranked WHERE rk < 16),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 5),
asgn AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> e.embedding[i]::DOUBLE * c.cvec[i]))
                    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                       * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) DESC,
                    c.cid ASC
         ) AS rn
  FROM embeddings e, cents c
),
A AS (SELECT vec_id, v, cid FROM asgn WHERE rn = 1),
res AS (
  SELECT a.vec_id, a.cid,
         list_transform(range(1, 64 + 1), i -> a.v[i] - c.cvec[i]) AS rv
  FROM A a JOIN cents c USING (cid)
),
cbsample AS (
  SELECT r.rk AS code, s.rv
  FROM ranked r JOIN res s USING (vec_id)
  WHERE r.rk < 16
),
subs AS (SELECT unnest(range(0, 4)) AS sub),
cb AS (
  SELECT su.sub, c.code, c.rv[su.sub * 16 + 1 : su.sub * 16 + 16] AS svec
  FROM cbsample c, subs su
),
enc AS (
  SELECT r.vec_id, r.cid, cb.sub, cb.code,
         row_number() OVER (
           PARTITION BY r.vec_id, cb.sub
           ORDER BY list_sum(list_transform(range(1, 16 + 1),
                    i -> (r.rv[cb.sub * 16 + i] - cb.svec[i])
                       * (r.rv[cb.sub * 16 + i] - cb.svec[i]))) ASC,
                    cb.code ASC
         ) AS rn
  FROM res r, cb
),
probe AS (
  SELECT c.cid, c.cvec FROM cents c, q
  ORDER BY list_sum(list_transform(range(1, len(q.v) + 1), i -> c.cvec[i] * q.v[i]))
           / (sqrt(list_sum(list_transform(c.cvec, x -> x * x)))
              * sqrt(list_sum(list_transform(q.v, x -> x * x)))) DESC,
           c.cid ASC
  LIMIT 4
),
qr AS (
  SELECT p.cid, list_transform(range(1, 64 + 1), i -> q.v[i] - p.cvec[i]) AS qr
  FROM probe p, q
),
dtab AS (
  SELECT r.cid, cb.sub, cb.code,
         list_sum(list_transform(range(1, 16 + 1),
            i -> (r.qr[cb.sub * 16 + i] - cb.svec[i])
               * (r.qr[cb.sub * 16 + i] - cb.svec[i]))) AS d2
  FROM qr r, cb
),
scored AS (
  SELECT e.vec_id, round(sum(d.d2), 6) AS adist
  FROM (SELECT vec_id, cid, sub, code FROM enc WHERE rn = 1) e
  JOIN dtab d USING (cid, sub, code)
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY adist ASC, vec_id ASC) AS rank, vec_id, adist
FROM scored ORDER BY adist ASC, vec_id ASC LIMIT 10
"""

    # PQ: md5-sampled codebooks, per-subspace argmin encode, ADC table
    sql["pq_topk"] = """
WITH ranked AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code
  FROM embeddings
),
cents AS (SELECT code, v FROM ranked WHERE code < 16),
subs AS (SELECT unnest(range(0, 4)) AS sub),
cb AS (
  SELECT su.sub, c.code, c.v[su.sub * 16 + 1 : su.sub * 16 + 16] AS svec
  FROM cents c, subs su
),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 3),
enc AS (
  SELECT e.vec_id, cb.sub, cb.code,
         row_number() OVER (
           PARTITION BY e.vec_id, cb.sub
           ORDER BY list_sum(list_transform(range(1, 16 + 1),
                    i -> (e.embedding[cb.sub * 16 + i]::DOUBLE - cb.svec[i])
                       * (e.embedding[cb.sub * 16 + i]::DOUBLE - cb.svec[i]))) ASC,
                    cb.code ASC
         ) AS rn
  FROM embeddings e, cb
),
dtab AS (
  SELECT cb.sub, cb.code,
         list_sum(list_transform(range(1, 16 + 1),
            i -> (q.v[cb.sub * 16 + i] - cb.svec[i])
               * (q.v[cb.sub * 16 + i] - cb.svec[i]))) AS d2
  FROM cb, q
),
scored AS (
  SELECT e.vec_id, round(sum(d.d2), 6) AS adist
  FROM (SELECT vec_id, sub, code FROM enc WHERE rn = 1) e
  JOIN dtab d USING (sub, code)
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY adist ASC, vec_id ASC) AS rank, vec_id, adist
FROM scored ORDER BY adist ASC, vec_id ASC LIMIT 10
"""

    sql["stream_windowed_counts"] = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
       CAST(epoch(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS BIGINT) AS window_end_s,
       event_type AS term,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start_s, term
"""

    sql["sort_multi"] = f"""
WITH {_TOKS},
cand AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')
SELECT row_number() OVER (ORDER BY d.lang ASC, d.n_chars DESC, d.doc_id) AS rank,
       d.doc_id AS docid, d.lang, d.n_chars
FROM documents d JOIN cand USING (doc_id)
ORDER BY d.lang ASC, d.n_chars DESC, d.doc_id
LIMIT 15
"""

    return sql
