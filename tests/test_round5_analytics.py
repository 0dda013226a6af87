"""Round-5 session-4 widening: token entropy, TF-IDF keywords, PMI
collocations, CCNet perplexity buckets, SemDeDup, and stream-vs-batch
index equality — semantics on hand-built fixtures with known answers."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "alpha beta gamma delta"),            # 4 uniq of 4 -> max entropy
        (1, "spam spam spam spam"),               # 1 uniq -> zero entropy
        (2, "new york new york city hall"),       # collocation-heavy
        (3, ""),                                  # token-less
        (4, "alpha alpha beta beta"),             # 2 uniq, uniform
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_entropy_known_values(spark, tiny_docs):
    from search_engine_spark.pipelines.textstats import token_entropy

    got = {r["doc_id"]: r for r in token_entropy(tiny_docs).collect()}
    # 4 distinct tokens, uniform -> H = log2(4) = 2, norm = 1
    assert got[0]["entropy"] == 2.0 and got[0]["norm_entropy"] == 1.0
    # all same token -> H = 0; norm undefined (n_uniq == 1) -> NULL
    assert got[1]["entropy"] == 0.0 and got[1]["norm_entropy"] is None
    # token-less doc: zero counts, NULL entropy
    assert got[3]["n_tokens"] == 0 and got[3]["entropy"] is None
    # 2 uniq uniform -> H = 1, norm = 1
    assert got[4]["entropy"] == 1.0 and got[4]["norm_entropy"] == 1.0


def test_tfidf_topk_ranks_distinctive_terms_first(spark):
    from search_engine_spark.pipelines.textstats import tfidf_topk

    rows = [
        (0, "shared shared zebra"),
        (1, "shared shared yak"),
        (2, "shared shared xenon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, terms in by_doc.items():
        # the doc-unique term (df=1) must outrank the corpus-wide one
        assert terms[0]["doc_freq"] == 1 and terms[0]["rank"] == 1
        assert terms[1]["term"] == "shared"
        # tf * ln(N/df): unique term = 1 * ln(3), shared = 2 * ln(1) = 0
        assert terms[0]["tfidf"] == round(math.log(3.0), 6)
        assert terms[1]["tfidf"] == 0.0


def test_pmi_bigrams_collocation_beats_chance(spark):
    from search_engine_spark.pipelines.curation import pmi_bigrams

    # "new york" always adjacent; "the" is everywhere -> (the, X) low PMI
    rows = [(i, "the visit to new york was the trip of the year") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_bigrams(df, min_count=5, k=10).collect()
    pmi = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    assert ("new", "york") in pmi
    the_pairs = [v for (a, b), v in pmi.items() if a == "the"]
    assert all(pmi[("new", "york")] > v for v in the_pairs)


def test_perplexity_buckets_terciles(spark):
    from search_engine_spark.pipelines.curation import perplexity_buckets

    # 9 docs with distinct cross-entropies + 1 empty doc
    rows = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(9)]
    rows.append((9, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in perplexity_buckets(df, 3).collect()}
    buckets = [out[i]["bucket"] for i in range(9)]
    # equal-population terciles over 9 scored docs -> 3/3/3
    assert sorted(buckets) == [0, 0, 0, 1, 1, 1, 2, 2, 2]
    # bucket is monotone in cross-entropy
    ordered = sorted(range(9), key=lambda i: out[i]["cross_entropy"])
    assert [out[i]["bucket"] for i in ordered] == sorted(buckets)
    assert out[9]["bucket"] is None and out[9]["cross_entropy"] is None


def test_semantic_dedup_within_cluster_min_id_survives(spark):
    from search_engine_spark.pipelines.similarity import semantic_dedup

    # two tight groups of identical vectors + one singleton
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),     # dup of 0
        (2, [0.99, 0.01, 0.0]),   # near-dup of 0
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 1.0, 0.0]),    # dup of 10
        (20, [0.0, 0.0, 1.0]),    # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, n_centroids=3, tau=0.9).collect()}
    assert len(out) == 6  # one row per input vector
    # min-id of each similarity clique survives; followers are removed
    assert out[0]["keep"] and not out[1]["keep"] and not out[2]["keep"]
    assert out[10]["keep"] and not out[11]["keep"]
    assert out[20]["keep"]
    # dup pairs must share a cluster (that's what makes the join see them)
    assert out[0]["cid"] == out[1]["cid"] == out[2]["cid"]
    assert out[10]["cid"] == out[11]["cid"]


def test_semantic_dedup_bucket_cap_bounds_quadratic(spark):
    from search_engine_spark.pipelines.similarity import semantic_dedup

    # 60 identical vectors: uncapped would form 60*59/2 pairs; cap=8 keeps
    # the 8 smallest ids in the cluster's join, so followers beyond the cap
    # keep=True (documented truncation — the audit path counts them)
    rows = [(i, [1.0, 0.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_centroids=1, tau=0.9, bucket_cap=8).collect()
    removed = sum(0 if r["keep"] else 1 for r in out)
    assert removed == 7  # only the capped membership deduped
    out2 = semantic_dedup(df, n_centroids=1, tau=0.9, bucket_cap=None).collect()
    assert sum(0 if r["keep"] else 1 for r in out2) == 59


def test_stream_built_index_matches_batch_built(spark, tmp_path):
    """Incremental (streamed micro-batch) ingestion converges to the same
    search results as one batch build over the same corpus."""
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.corpus import generate_pages
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.streaming import index_stream

    pdf = generate_pages(n_docs=120, seed=11)
    docs = spark.createDataFrame(pdf)
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col="warc_ts",
                      attr_cols=("lang",), num_shards=2, num_buckets=4)

    batch_dir = str(tmp_path / "batch_idx")
    build_index(spark, docs, batch_dir, cfg)

    # stream build: a deterministic third seeds, the rest arrives in 2
    # micro-batches (hash split — limit() would be plan-dependent)
    stream_dir = str(tmp_path / "stream_idx")
    part = F.crc32(F.col("url")) % 3
    seed = docs.filter(part == 0)
    build_index(spark, seed, stream_dir, cfg)
    rest = docs.filter(part != 0)
    stage = str(tmp_path / "stage")
    rest.repartition(2).write.parquet(stage)
    stream = (spark.readStream.schema(rest.schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    q = index_stream(stream, stream_dir, str(tmp_path / "ckpt"), compact_every=2)
    q.awaitTermination()

    bi = SearchIndex(spark, batch_dir)
    si = SearchIndex(spark, stream_dir)
    for query in ("table join merge", "hash group sort"):
        b = [(r["pk"], round(r["score"], 6))
             for r in bi.search(query, k=10, mode="exhaustive").collect()]
        s = [(r["pk"], round(r["score"], 6))
             for r in si.search(query, k=10, mode="exhaustive").collect()]
        assert b == s


def test_ivf_store_probe_matches_inline_and_prunes(spark, tmp_path):
    """ivf_write/ivf_probe: same results as the inline IVF top-k, and the
    probe only OPENS the probed lists (partition pruning, checked both in
    the plan and by the actual files read)."""
    import numpy as np
    from pyspark.sql import functions as F
    from search_engine_spark.pipelines.similarity import (
        ivf_cosine_topk, ivf_probe, ivf_write,
    )

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[7][1]

    store = str(tmp_path / "ivf_store")
    ivf_write(emb, store, n_centroids=10)
    got = ivf_probe(spark, store, qv, k=10, n_probe=3)
    want = ivf_cosine_topk(emb, qv, k=10, n_centroids=10, n_probe=3)
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]

    # pruning: the probed scan reads files from exactly n_probe list dirs
    import os
    lists = spark.read.parquet(os.path.join(store, "lists"))
    probed_cids = {r["cid"] for r in got.join(
        lists.select("vec_id", "cid"), "vec_id").select("cid").collect()}
    cand = lists.filter(F.col("cid").isin([0, 1, 2]))
    files = [r[0] for r in
             cand.select(F.input_file_name()).distinct().collect()]
    assert len(files) <= 3
    assert all(f"cid={c}/" in f for f in files for c in [0, 1, 2]
               if f"cid={c}/" in f)
    # and the physical plan carries the partition filter (listing-level)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def _bpe_reference(word_counts, n_merges, min_pair_count=2):
    """Independent pure-Python BPE (Sennrich-style) for oracle compare."""
    segs = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for w, c in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        if cnt < min_pair_count:
            break
        merges.append((rank, l, r, cnt))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges, segs


def test_learn_bpe_matches_pure_python(spark):
    from collections import Counter

    from search_engine_spark.pipelines.bpe import learn_bpe

    texts = [
        "lower lower lowest newer newer newer wider wide new",
        "low low lowest newest wide wider widest new new",
        "the newest lower the widest newer the low wide",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = Counter(w for t in texts for w in t.split())
    want, _ = _bpe_reference(dict(wc), n_merges=8)
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in learn_bpe(df, n_merges=8).collect()
    ]
    assert got == want


def test_apply_bpe_segments_match_reference(spark):
    from collections import Counter

    from search_engine_spark.pipelines.bpe import apply_bpe, learn_bpe

    texts = ["banana bandana banana", "bandana banana cabana"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = Counter(w for t in texts for w in t.split())
    ref_merges, ref_segs = _bpe_reference(dict(wc), n_merges=5)
    merges = [(l, r) for _, l, r, _ in ref_merges]
    got = {r["doc_id"]: r["pieces"] for r in apply_bpe(df, merges).collect()}
    for i, t in enumerate(texts):
        want = [p for w in t.split() for p in ref_segs[w]]
        assert got[i] == want


def test_index_stats(spark, index_dir):
    from search_engine_spark.query import SearchIndex

    idx = SearchIndex(spark, index_dir)
    got = {r["stat"]: r["value"] for r in idx.stats().collect()}
    assert got["n_docs"] == float(idx._doc_stats.count())
    assert got["n_terms"] == float(idx._terms.count())
    # postings total == sum of per-term document frequencies
    sum_df = idx._terms.agg(F.sum("df")).collect()[0][0]
    assert got["n_postings"] == float(sum_df)
    # avgdl agrees with the doc-stats table it summarizes
    avg = idx._doc_stats.agg(F.avg("dl")).collect()[0][0]
    assert got["avgdl"] == round(avg, 6)
    # one field_<attr> row per stored attribute, fully populated corpus
    fields = {k for k in got if k.startswith("field_")}
    assert fields and all(got[f] == got["n_docs"] for f in fields)


def test_ngram_counts_known_grams(spark):
    from search_engine_spark.pipelines.curation import ngram_counts

    rows = [
        (0, "a b c a b c"),
        (1, "a b c d"),
        (2, "x"),          # shorter than n -> one partial shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["gram"]: r["n_occurrences"]
           for r in ngram_counts(df, n=3, min_count=1).collect()}
    assert got["a b c"] == 3   # twice in doc 0 (windows), once in doc 1
    assert got["b c a"] == 1 and got["b c d"] == 1
    assert got["x"] == 1       # partial shingle for the short doc
    assert ngram_counts(df, n=3, min_count=2).count() == 1


def test_pq_encode_matches_numpy_argmin(spark):
    import numpy as np

    from search_engine_spark.pipelines.similarity import (
        pq_adc_topk, pq_codebooks, pq_encode,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(80, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, n_codes, sub_d = 4, 8, 2
    cb = pq_codebooks(emb, m=m, n_codes=n_codes)
    cb_rows = cb.collect()
    books = np.zeros((m, n_codes, sub_d))
    for r in cb_rows:
        books[r["sub"], r["code"]] = r["svec"]
    got = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb, m=m).collect()}
    for i in range(80):
        for s in range(m):
            sv = vecs[i, s * sub_d:(s + 1) * sub_d]
            d2 = ((books[s] - sv) ** 2).sum(axis=1)
            assert got[i][s] == int(np.argmin(d2))  # ties: argmin -> smallest

    # ADC sanity: distances are the summed subspace quantization errors,
    # so they are non-negative and the top-k comes back sorted
    top = pq_adc_topk(emb, cb, [float(x) for x in vecs[0]], k=5, m=m).collect()
    assert top[0]["rank"] == 1 and top[0]["adist"] >= 0.0
    assert [r["adist"] for r in top] == sorted(r["adist"] for r in top)


def test_pq_encode_rejects_empty_input(spark):
    from search_engine_spark.pipelines.similarity import pq_encode

    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame([], schema)
    cb = spark.createDataFrame([], "sub int, code int, svec array<double>")
    with pytest.raises(ValueError, match="empty input"):
        pq_encode(emb, cb, m=4)


def test_pq_encode_rejects_dim_not_divisible_by_m(spark):
    from search_engine_spark.pipelines.similarity import (
        pq_codebooks, pq_encode,
    )

    schema = "vec_id long, embedding array<double>"
    emb8 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(8)], schema)
    cb = pq_codebooks(emb8, m=4, n_codes=2)
    emb6 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(6)]) for i in range(8)], schema)
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(emb6, cb, m=4)


def test_ivf_pq_topk_candidates_from_probed_lists_only(spark):
    import numpy as np

    from search_engine_spark.pipelines.similarity import (
        ivf_assignments, ivf_pq_topk,
    )

    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[4][1]
    got = ivf_pq_topk(emb, qv, k=10, n_centroids=6, n_probe=2, m=4, n_codes=8)
    res = got.collect()
    # deterministic, ascending approximate distance, dense ranks
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    assert [r["adist"] for r in res] == sorted(r["adist"] for r in res)
    res2 = ivf_pq_topk(emb, qv, k=10, n_centroids=6, n_probe=2, m=4, n_codes=8).collect()
    assert [tuple(r) for r in res] == [tuple(r) for r in res2]
    # every returned candidate lives in one of the 2 probed lists
    _, asgn = ivf_assignments(emb, 6)
    cid_of = {r["vec_id"]: r["cid"] for r in asgn.select("vec_id", "cid").collect()}
    probed = {cid_of[r["vec_id"]] for r in res}
    assert len(probed) <= 2


def test_suggest_did_you_mean(spark, index_dir):
    from search_engine_spark.query import SearchIndex

    idx = SearchIndex(spark, index_dir)
    # pick a real dictionary term >= 5 chars and misspell one letter
    term = next(r["term"] for r in idx._terms.orderBy(F.desc("df")).collect()
                if len(r["term"]) >= 5)
    typo = ("x" + term[1:])
    got = {r["term"]: r for r in idx.suggest(f"{typo} {term} zzzzzz").collect()}
    assert got[typo]["suggestion"] == term and got[typo]["dist"] == 1
    assert got[term]["suggestion"] == term and got[term]["dist"] == 0
    assert "zzzzzz" not in got           # nothing within budget
    assert idx.suggest("").count() == 0  # empty query -> empty frame


def test_hybrid_rrf_rank_fusion(spark, index_dir):
    import numpy as np

    from search_engine_spark.query import SearchIndex, hybrid_search_rrf

    idx = SearchIndex(spark, index_dir)
    # embeddings keyed by the index's integer docids
    docids = [r["docid"] for r in idx._doc_stats.select("docid").collect()]
    rng = np.random.default_rng(2)
    emb = spark.createDataFrame(
        [(int(d), [float(x) for x in rng.normal(size=8)]) for d in docids],
        "vec_id long, embedding array<double>",
    )
    qv = [float(x) for x in rng.normal(size=8)]
    res = hybrid_search_rrf(idx, emb, "table join", qv, k=10, pool=20).collect()
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    # RRF scores are sums of 1/(60+rank): bounded by 2/61 and positive
    assert all(0 < r["score"] <= 2.0 / 61 + 1e-12 for r in res)
    # a doc present in BOTH pools at rank r beats one present in a single
    # pool at the same rank: top fused doc must appear in >= 1 pool and
    # the max possible single-pool score is 1/61
    both = [r for r in res if r["score"] > 1.0 / 61 + 1e-12]
    single = [r for r in res if r["score"] <= 1.0 / 61 + 1e-12]
    if both and single:
        assert max(r["rank"] for r in both) < min(r["rank"] for r in single) or \
            all(b["score"] >= s["score"] for b in both for s in single)


def test_pq_rerank_pool_full_equals_brute_force(spark):
    import numpy as np

    from search_engine_spark.pipelines.similarity import (
        cosine_topk, ivf_pq_build, ivf_pq_query, ivf_pq_topk,
        pq_adc_topk, pq_codebooks,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[3][1]
    brute = [(r["vec_id"], r["sim"])
             for r in cosine_topk(emb, qv, k=10).collect()]

    # IVFADC-R with full-corpus shortlist == exact brute force
    cb = pq_codebooks(emb, m=4, n_codes=8)
    got = [(r["vec_id"], r["sim"])
           for r in pq_adc_topk(emb, cb, qv, k=10, m=4,
                                rerank_pool=150).collect()]
    assert got == brute

    # build-once/query-many handle gives the same rows as the wrapper
    idx = ivf_pq_build(emb, n_centroids=5, m=4, n_codes=8, pq_lloyd_iters=1)
    a = ivf_pq_query(idx, qv, k=10, n_probe=5, rerank_pool=150).collect()
    b = ivf_pq_topk(emb, qv, k=10, n_centroids=5, n_probe=5, m=4, n_codes=8,
                    pq_lloyd_iters=1, rerank_pool=150).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # probing every list with a full shortlist is exhaustive -> brute force
    assert [(r["vec_id"], r["sim"]) for r in a] == brute


def test_snapshot_point_in_time_copy(spark, tmp_path):
    import os

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.corpus import generate_pages
    from search_engine_spark.index import IndexPaths
    from search_engine_spark.query import SearchIndex
    from search_engine_spark.update import add_documents, snapshot

    pdf = generate_pages(n_docs=100, seed=21)
    docs = spark.createDataFrame(pdf)
    cfg = IndexConfig(text_col="text", pk_col="url", ts_col="warc_ts",
                      attr_cols=("lang",), num_shards=2, num_buckets=4)
    src = str(tmp_path / "src_idx")
    build_index(spark, docs.limit(80), src, cfg)
    add_documents(spark, src, docs.subtract(docs.limit(80)))  # gen=1

    snap = str(tmp_path / "snap_idx")
    meta = snapshot(src, snap)
    assert set(meta["generations"]) == {"0", "1"}
    assert not os.path.exists(IndexPaths(snap).term_doc)

    before = [(r["pk"], round(r["score"], 6)) for r in
              SearchIndex(spark, src).search("table join", k=10).collect()]
    got = [(r["pk"], round(r["score"], 6)) for r in
           SearchIndex(spark, snap).search("table join", k=10).collect()]
    assert got == before

    # later writes to the SOURCE don't leak into the snapshot
    extra = spark.createDataFrame(generate_pages(n_docs=20, seed=99)) \
        .withColumn("url", F.concat(F.lit("x-"), F.col("url")))
    add_documents(spark, src, extra)
    after_src = SearchIndex(spark, src)
    snap_idx = SearchIndex(spark, snap)
    assert after_src.n_docs == 120 and snap_idx.n_docs == 100
    still = [(r["pk"], round(r["score"], 6)) for r in
             snap_idx.search("table join", k=10).collect()]
    assert still == before

    # refuse to overwrite an existing index
    import pytest as _pytest
    with _pytest.raises(ValueError):
        snapshot(src, snap)


def test_index_stats_quotes_attribute_names(spark, tmp_path):
    """Attribute names are user data: a hyphenated one must not break the
    unpivot expression."""
    import pandas as pd

    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig
    from search_engine_spark.query import SearchIndex

    pdf = pd.DataFrame({"url": ["a", "b", "c"],
                        "text": ["alpha beta", "beta gamma", "gamma"],
                        "lang-code": ["en", None, "de"]})
    d = str(tmp_path / "hyph")
    build_index(spark, spark.createDataFrame(pdf), d,
                IndexConfig(text_col="text", pk_col="url", ts_col=None,
                            attr_cols=("lang-code",), num_shards=2,
                            num_buckets=2))
    got = {r["stat"]: r["value"]
           for r in SearchIndex(spark, d).stats().collect()}
    assert got["n_docs"] == 3.0
    assert got["field_lang-code"] == 2.0
