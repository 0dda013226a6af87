"""BM25 top-k query engine over a built index.

Replaces the reference's ranking-rule bucket sort
(``/root/reference/src/search/ranking/bucket_sort.rs:17-84``) with the north
rule's BM25 retrieval. Execution shape (document-partitioned distributed
top-k):

1. driver: parse query (shared grammar, ``query_parse.py``), look up term
   stats in the dictionary (exact / prefix range / typo Levenshtein —
   reference Q1/Q4/P11), compute idf per scoring term;
2. scan only the postings buckets/terms involved (directory-partition
   pruning on ``bucket=`` + parquet row-group pruning on ``term``) — the
   Spark analogue of the reference's per-word LMDB point reads memoized in
   ``DatabaseCache`` (``src/search/db_cache.rs``);
3. score with a bounded top-k through one entry, ``_topk``, running the
   scorer ``_pick_algo`` chooses: vectorized block-max MaxScore by default;
   block-max WAND with a k-sized min-heap under ``mode='wand'`` (the north
   rule's pruning; the analogue of the reference's bucket-refinement
   candidate subtraction, ``ranking/words.rs:66``); exhaustive numpy scoring
   for phrases, negation, filters, generation-horizon tombstones and the
   score-shaping features. The exhaustive scorer, ``_exhaustive_scores``,
   returns every candidate's score parts (one per term, phrase synonym,
   proximity pair, exactness and words bucket), which ``score_details``
   reads back; phrase, phrase-synonym and exactness matching share one
   positional kernel, ``_aligned_keys``. A query whose postings fit
   ``driver_exec_max_postings`` (``_fits_driver``, the one budget rule) is
   scored on the driver over pyarrow point reads (``_driver_gate``); the
   rest in one job (``_per_shard``) whose Arrow-batched pandas UDF,
   ``_shard_task``, runs the kernel per shard. ``search_many`` runs
   ``_topk`` per ``plan()`` over one read of its term union (``_batch_topk``);
4. merge on the driver: the <= num_shards*(k+offset) shard rows are
   collected, sorted (score desc, docid asc), paged and given their pk by
   a pyarrow point read of doc_stats (``_ranked_rows``; reference O2
   ``obkv_to_json``, ``src/lib.rs:209-234``). Result frames come from
   ``_local_df`` (Arrow, no worker).

Total order everywhere (heap, bounds, merge): (score desc, docid asc).
WAND prunes only on STRICT inequality so bound==threshold ties are still
evaluated — this keeps WAND rank-identical to exhaustive scoring and to the
single-process oracle.
"""

from __future__ import annotations

import heapq
import math
import os
from collections.abc import Iterable
from dataclasses import dataclass, field as dc_field, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from search_engine_spark.codecs import PostingReader, bm25_impact
from search_engine_spark.config import IndexConfig, IndexSettings
from search_engine_spark.filters import (
    ArrowUnsupported,
    require_fields,
    to_arrow,
    to_column,
)
from search_engine_spark.index import IndexPaths, read_meta, term_bucket
from search_engine_spark.config import (
    NGRAM_PENALTY,
    PREFIX_PENALTY,
    SPLIT_PENALTY,
    SYNONYM_PENALTY,
    TYPO_PENALTY,
)
from search_engine_spark.query_parse import (
    ParsedQuery,
    levenshtein,
    max_typos_for,
    parse_query,
    typo_candidates,
)

RESULT_SCHEMA = "docid long, score double"


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _quote_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL expressions."""
    return "`" + name.replace("`", "``") + "`"


def _local_df(
    spark: SparkSession, rows: list[tuple], schema: "str | StructType"
) -> DataFrame:
    """A driver-side result DataFrame of ``rows`` with ``schema`` (a DDL
    string or a ``StructType``), handed to Spark as one Arrow table. A list
    of tuples would be parallelized to Python workers, so its first action
    pays a Spark job (~280 ms, even for no rows); the Arrow table needs no
    worker, does not depend on the Arrow conf and plans as a
    ``LocalTableScan``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema))


def _plan_terms(plan: "QueryPlan") -> list[str]:
    """Every term whose postings a plan needs: scoring terms, negated
    terms, phrase words, phrase-synonym words (sorted for deterministic
    scan pruning)."""
    return sorted(
        set(plan.term_weights)
        | set(plan.negated)
        | {w for ph in plan.phrases for w in ph}
        | {w for ph, _wt in (plan.syn_phrases or ()) for w in ph}
    )


def _pick_algo(
    mode: str, plan: "QueryPlan", has_filter: bool, partial_tombs: bool = False
) -> str:
    """The one rule for which scorer runs. Only a plain plan (scoring terms
    alone) can be pruned: a phrase, negation, filter, match_all, proximity,
    the Last-strategy words bucket, exactness, a phrase synonym or
    generation-horizon tombstones (per-reader filtering that only the
    exhaustive scorer applies; compact() restores pruning) runs
    'exhaustive' whatever ``mode`` asks. A plain plan runs ``mode`` when it
    names a scorer ('wand' is the classic per-posting heap WAND, the
    north-rule parity path) and vectorized block-max MaxScore
    (rank-identical, batch-friendly) under 'auto'."""
    if (plan.phrases or plan.negated or has_filter or partial_tombs
            or plan.match_all or plan.prox_pairs or plan.word_groups
            or plan.exact_boost or plan.syn_phrases):
        return "exhaustive"
    return mode if mode in ("wand", "maxscore", "exhaustive") else "maxscore"


# Driver budget divisor when WAND runs: the vectorized scorers cost
# ~0.5-1.2us/posting (measured at 1M docs), so the driver affords 2M
# postings in ~1-2s; strict doc-at-a-time block-max WAND is a Python pivot
# loop (~10us/posting), and a 2M-posting driver WAND query would take ~20s
# where the cluster path takes ~2s.
_WAND_DRIVER_COST_RATIO = 16


@dataclass
class QueryPlan:
    term_weights: dict[str, float]  # scoring term -> idf * derivation penalty
    phrases: list[list[str]]
    negated: list[str]
    k: int
    # TermsMatchingStrategy::All (reference ``src/search/mod.rs:226-238``):
    # candidates must contain EVERY scoring term. Deviation note: the
    # reference applies All per original query word with derivations
    # OR-grouped; we apply it over the flat scoring-term set, so use it
    # with exact-word plans (no prefix/typo expansion).
    match_all: bool = False
    # Proximity ranking (reference K4 ProximityRule,
    # ``src/search/ranking/proximity.rs:16-227`` + ``src/proximity.rs:7-15``):
    # consecutive original-query word pairs; each pair adds
    # ``prox_weight / minprox`` to the doc's BM25 score when the pair's
    # minimum proximity (reference distance: pb-pa forward, pa-pb+1
    # backward, over all occurrence pairs) is <= 7, else nothing — so
    # "new york" adjacent outranks "new ... york" 500 words apart.
    # FROZEN spec, mirrored by the oracle + DuckDB SQL.
    prox_pairs: list[tuple[str, str]] = dc_field(default_factory=list)
    prox_weight: float = 0.0
    # Multi-pair cost model (reference proximity rule over cost paths,
    # ``ranking/proximity.rs:16-227`` + ``proximity_cost.rs:17-110``): when
    # set, ``prox_gaps[i]`` is pair i's query-gap weight g = 1/(j-i) over
    # ALL word pairs i<j (not just consecutive), and the bonus folds the
    # reference's budgeted path cost to a scalar:
    #   c_pair(doc) = min(minprox, 8)   (8 when the pair is absent)
    #   cost(doc)   = sum g * c_pair;  S = sum g;  budget B = 4*S
    #   bonus(doc)  = prox_weight * max(0, B - cost) / B
    # For consecutive-only pairs S = terms-1, so B = (terms-1)*4 — the
    # reference's budget constant. Docs whose weighted cost exceeds the
    # budget get nothing (the reference's "beyond budget -> last bucket").
    # None -> legacy per-pair mode (prox_weight/minprox per pair, <=7).
    prox_gaps: list[float] | None = None
    # ExactAttribute exactness (reference ExactnessRule,
    # ``ranking/exactness.rs:16-95`` backed by field_id_word_count_docids,
    # ``extract_fid_word_count_docids.rs:15-91``): docs where a searchable
    # field's whole content equals the query words get +exact_boost —
    # the reference's exact-attribute rank bucket folded to score shaping.
    # Verified from stored positions (anchored match at field position 0)
    # plus, on single-field indexes, dl == len(words) so nothing follows;
    # multi-field indexes boost whole-field PREFIX matches (documented
    # deviation: per-field word counts are not stored).
    exact_boost: float = 0.0
    exact_words: list[str] | None = None
    # TermsMatchingStrategy::Last (reference default, ``src/search/mod.rs:
    # 226-238`` + the words rule ``ranking/words.rs:52-80``): docs bucket
    # by the longest matched PREFIX of query words ("remove last word
    # first"), buckets iterate descending, BM25 ranks within a bucket.
    # ``word_groups[i]`` holds word i's scoring terms (the word plus its
    # synonym/prefix/typo derivations — a derivative matches its word node,
    # reference query_graph.rs DerivativeTerm). Executed as score shaping:
    # score = matched_prefix_words * offset + bm25 with offset > any
    # possible bm25 sum, so shard merge / pagination stay unchanged.
    word_groups: list[list[str]] | None = None
    # Multi-word (phrase) synonyms (reference Q5 multi-word expansion,
    # ``query_graph.rs:307-396``: "nyc" -> "new york city" matches the
    # words CONSECUTIVELY). Each entry is (phrase words, weight) where
    # weight = SYNONYM_PENALTY * bm25_idf(N, df_phrase) — the phrase is
    # scored as a pseudo-term: contribution per doc is
    # weight * tf_p / (tf_p + k1*(1-b+b*dl/avgdl)) with tf_p = number of
    # consecutive occurrences of the phrase — EXACTLY how the synonym
    # would score if it were one indexed term. df_phrase is resolved at
    # plan() time via the driver point-read phrase kernel (budgeted; over
    # budget or positions absent -> the words fall back to independent
    # synonym terms, documented). Docs matching ONLY the phrase still
    # enter the candidate set. FROZEN spec, mirrored by the DuckDB oracle.
    # Deviation notes: phrase synonyms contribute score but not
    # Last-strategy word credit (like ngram/split derivations), and under
    # match_all the mandatory set remains the flat scoring terms.
    syn_phrases: list[tuple[tuple[str, ...], float]] | None = None


class SearchIndex:
    """Query handle over one index directory (see ``index.py`` layout)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        meta = read_meta(self.paths)
        self.config = IndexConfig.from_dict(meta["config"])
        # persisted per-index query-time settings (reference
        # src/update/settings.rs: synonyms/typo/matching-strategy live in
        # the index); plan() defaults from these, per-call kwargs override.
        # Indexes written before settings existed read as the defaults.
        self.settings = IndexSettings.from_dict(meta.get("settings", {}))
        self.n_docs: int = meta["n_docs"]
        # idf is computed over the *indexed* doc count (live + tombstoned),
        # matching the stale per-term df below (Lucene semantics: deleted
        # docs keep counting toward term statistics until segments merge).
        # Using the live count with stale df lets idf go NEGATIVE once more
        # than half a term's docs are tombstoned, which both inverts ranking
        # and breaks WAND/MaxScore pruning (upper bounds assume nonnegative
        # term contributions). Compaction refreshes everything.
        self.n_docs_indexed: int = meta["n_docs"] + int(meta.get("n_deleted", 0))
        self.avgdl: float = meta["avgdl"]
        self.n_terms: int = meta.get("n_terms", 0)
        # generation -> avgdl used when that generation's block-max metadata
        # was encoded (WAND bound scaling; see make_shard_scorer)
        self.gen_avgdl: dict[int, float] = {
            int(g): float(v["avgdl"])
            for g, v in meta.get("generations", {"0": {"avgdl": self.avgdl}}).items()
        }
        self._postings = spark.read.parquet(self.paths.postings)
        # per-generation dictionaries merge by summing df/cf. NOTE (documented
        # deviation, Lucene-identical): df still counts tombstoned docs until
        # compaction, so idf of terms touching deleted docs is slightly stale.
        self._terms = (
            spark.read.parquet(self.paths.terms)
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("max_tf").alias("max_tf"),
            )
        )
        # gen-guaranteed read (update._read_with_gen): on a mixed dir
        # (legacy gen-less files + appended gen-ful files) schema inference
        # can pick a legacy footer and silently drop `gen`, which would
        # treat every row as gen 0 and filter live new-generation rows of
        # in-place docid replacements as dead. Same fallback as mutations.
        from search_engine_spark.update import _read_with_gen

        self._doc_stats = _read_with_gen(spark, self.paths.doc_stats)
        self._deleted, self._partial_tombs = self._load_tombstones()
        # Ship tombstones to executors as a Spark broadcast (torrent, once
        # per executor) instead of riding every task's closure: the scorer
        # closures capture only the handle. Sorted int64 array = 8 B per
        # tombstone; at 10^12-doc scale with heavy deletes this is the
        # structure a roaring bitmap would compress, and the contract
        # (sorted membership lookup) is identical — swap-in point documented
        # in _load_deleted.
        self._deleted_bc = (
            spark.sparkContext.broadcast(self._deleted)
            if len(self._deleted)
            else None
        )
        # generation-horizon tombstones (docid replaced in place: dead only
        # in generations < horizon). Rare relative to plain deletes; when
        # present, scoring routes to the exhaustive scorer whose per-reader
        # decode applies them (WAND/MaxScore resume after compact()).
        self._partial_bc = (
            spark.sparkContext.broadcast(self._partial_tombs)
            if self._partial_tombs is not None
            else None
        )
        # doc_stats: keep only live rows (gen >= horizon). Replaced docids
        # would otherwise join twice (old + new version) and attribute
        # filters could match a dead version's attrs. Horizon semantics
        # live in ONE place (update._tombstones_df/_filter_dead).
        if os.path.isdir(self.paths.deletes):
            from search_engine_spark.update import _filter_dead, _tombstones_df

            # _doc_stats was read via _read_with_gen above, so `gen` is
            # guaranteed present (legacy gen-less rows read as gen 0) and
            # the horizon filter is well-defined on every index vintage.
            self._doc_stats = _filter_dead(
                self._doc_stats, _tombstones_df(spark, self.paths)
            )
        # The dictionary is tiny relative to the corpus (the reference keeps
        # its whole words-FST in memory, src/index.rs:56). Below this many
        # terms we pin (term -> df) on the driver so query planning does no
        # Spark jobs; above it, lookups fall back to DataFrame point reads.
        self._local_dict_max_terms = 2_000_000
        self._dict: dict[str, int] | None = None
        # pair-proximity-1 doc counts per (left, right), reused across
        # plan() calls (split ranking + phrase-synonym df)
        self._split_rank_cache: dict[tuple[str, str], int] = {}
        # execute(execution='auto') runs the query driver-side when the
        # posting slices it touches total at most this many postings
        # (point-read path; ~ms latency). Head terms at web scale exceed it
        # and fall back to the document-partitioned cluster path. A query
        # WAND scores gets 1/_WAND_DRIVER_COST_RATIO of it (_driver_gate).
        self.driver_exec_max_postings = 2_000_000
        # driver point-read dataset handles, created lazily and cached for
        # the handle's lifetime (a SearchIndex is a point-in-time snapshot —
        # meta was read once at init): pyarrow dataset discovery over
        # buckets x shards x generations costs ~0.5s and dominated warm
        # tail-term latency when paid per query.
        self._pq_dataset = None
        self._stats_dataset = None
        self._docs_dataset = None
        # pin(): executor-cached postings slice (reference analogue: LMDB's
        # OS page cache keeps hot posting pages resident, src/index.rs txns)
        self._pinned: DataFrame | None = None
        self._pinned_buckets: set[int] = set()
        self._pinned_stats: DataFrame | None = None

    def pin(self, buckets: list[int] | None = None,
            storage_level: str = "MEMORY_AND_DISK",
            materialize: bool = True,
            max_bytes: int = 1 << 30) -> "SearchIndex":
        """Pin postings (optionally only ``buckets``) + doc_stats in executor
        cache for repeated-query serving — the Spark analogue of the
        reference's resident LMDB pages. Queries whose term buckets are all
        pinned read the in-memory columnar relation instead of parquet;
        others fall back to the pruned parquet scan transparently.

        At web scale pin the *head* buckets only (term frequency is Zipfian:
        a few buckets serve most queries); ``pin_for(terms)`` computes the
        bucket set for a query mix. REFUSES (ValueError) when the selected
        buckets' postings exceed ``max_bytes`` on disk: a whole-index pin of
        a large index is a measured anti-pattern — the in-memory relation
        lacks parquet's row-group term pruning, so big pinned scans are
        SLOWER than the pruned parquet read (BENCH/BASELINE.md round-3
        addendum) while also evicting executor memory. Raise ``max_bytes``
        explicitly to override. Cache is cluster-memory bounded —
        MEMORY_AND_DISK spills instead of recomputing the scan.
        """
        from pyspark import StorageLevel

        lvl = getattr(StorageLevel, storage_level)
        sel = (
            set(range(self.config.num_buckets)) if buckets is None
            else {int(b) for b in buckets}
        )
        sz = self._postings_bytes(sel)
        if sz > max_bytes:
            raise ValueError(
                f"pin() refused: selected buckets hold {sz / 2**20:.0f} MiB "
                f"of postings on disk (> max_bytes={max_bytes / 2**20:.0f} "
                "MiB). Pinning large slices is slower than the row-group-"
                "pruned parquet scan (see pin() docstring); pin head "
                "buckets (pin_for(terms)) or pass a larger max_bytes to "
                "override."
            )
        self.unpin()
        self._pinned_buckets = sel
        pinned = self._postings
        if len(self._pinned_buckets) < self.config.num_buckets:
            pinned = pinned.filter(
                F.col("bucket").isin(sorted(self._pinned_buckets))
            )
        self._pinned = pinned.persist(lvl)
        self._pinned_stats = self._doc_stats.persist(lvl)
        if materialize:
            self._pinned.count()
            self._pinned_stats.count()
        self._doc_stats = self._pinned_stats
        return self

    def _postings_bytes(self, buckets: set[int]) -> int:
        """On-disk bytes of the selected buckets' postings (all
        generations) — the pin() size gate."""
        total = 0
        for dirpath, _dirs, files in os.walk(self.paths.postings):
            bucket = None
            for part in dirpath.split(os.sep):
                if part.startswith("bucket="):
                    try:
                        bucket = int(part.split("=", 1)[1])
                    except ValueError:
                        pass
            if bucket is None or bucket not in buckets:
                continue
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def pin_for(self, terms: list[str], **pin_kw) -> "SearchIndex":
        """Pin exactly the buckets a query mix touches (the Zipfian-head
        serving pattern): ``pin_for(['hash', 'group', 'sort'])`` pins the
        union of those terms' buckets and leaves the rest on parquet."""
        buckets = sorted({term_bucket(t, self.config.num_buckets)
                          for t in terms})
        return self.pin(buckets=buckets, **pin_kw)

    def unpin(self) -> None:
        """Release pinned cache (no-op if not pinned)."""
        if self._pinned is not None:
            self._pinned.unpersist()
            self._pinned = None
            self._pinned_buckets = set()
        if self._pinned_stats is not None:
            self._pinned_stats.unpersist()
            self._pinned_stats = None

    def _load_tombstones(self) -> tuple["np.ndarray", "tuple | None"]:
        """-> (full-dead sorted docid array, generation-horizon pairs).

        Tombstones carry a horizon: the docid is dead in generations
        < horizon. Docids whose max horizon exceeds the newest generation
        are dead EVERYWHERE — they take the flat-array fast path every
        scorer already uses. The remainder (in-place docid_col
        replacements) return as sorted ``(docids, horizons)``; scorers
        apply them per reader generation. A roaring bitmap would compress
        the flat array ~10x but isn't in the sandbox's wheels — the
        contract (sorted membership lookup) is identical."""
        import os

        empty = np.zeros(0, dtype=np.int64)
        if not os.path.isdir(self.paths.deletes):
            return empty, None
        import pyarrow.dataset as ds

        try:
            t = ds.dataset(self.paths.deletes, format="parquet").to_table()
        except Exception:
            return empty, None
        ids = t.column("docid").to_numpy()
        if not len(ids):
            return empty, None
        if "horizon" in t.column_names:
            hor = t.column("horizon").to_numpy().astype(np.int64)
        else:
            from search_engine_spark.update import DEAD_HORIZON

            hor = np.full(len(ids), DEAD_HORIZON, dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids, hor = ids[order], hor[order]
        # fold duplicate docids to max(horizon)
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        uids = ids[starts]
        uhor = np.maximum.reduceat(hor, starts)
        max_gen = max(int(g) for g in self.gen_avgdl) if self.gen_avgdl else 0
        full = uhor > max_gen
        partial = None
        if (~full).any():
            partial = (uids[~full], uhor[~full])
        return uids[full], partial

    def _docs_snapshot(self) -> DataFrame:
        """Canonical document store, LIVE rows only (generation-horizon
        tombstones applied; replaced docids keep exactly their newest
        version), ``gen`` dropped."""
        from search_engine_spark.update import (
            _filter_dead,
            _read_with_gen,
            _tombstones_df,
        )

        docs = _read_with_gen(self.spark, self.paths.docs)
        docs = _filter_dead(docs, _tombstones_df(self.spark, self.paths))
        return docs.drop("gen")

    # -- dictionary lookups (reference Q1/Q4/P11-12) ----------------------
    def _local_dict(self) -> dict[str, int] | None:
        if self._dict is None and self.n_terms <= self._local_dict_max_terms:
            pdf = self._terms.select("term", "df").toPandas()
            self._dict = dict(zip(pdf["term"], pdf["df"].astype(int)))
        return self._dict

    def _lookup_exact(self, words: list[str]) -> dict[str, int]:
        if not words:
            return {}
        words = list(dict.fromkeys(words))  # first-seen order, hash-seed free
        d = self._local_dict()
        if d is None:
            rows = (
                self._terms.filter(F.col("term").isin(words))
                .select("term", "df")
                .collect()
            )
            d = {r["term"]: r["df"] for r in rows}
        return {w: d[w] for w in words if w in d}

    def _fits_driver(self, terms, extra: int = 0, ratio: int = 1) -> bool:
        """The one point-read budget rule: ``terms``' postings (a term list,
        or a term -> df map already looked up) plus ``extra`` fit
        ``driver_exec_max_postings // ratio``. Within it a surface runs on
        driver point reads; above it, per shard (``_per_shard``)."""
        dfs = terms if isinstance(terms, dict) else self._lookup_exact(terms)
        return sum(dfs.values()) + extra <= self.driver_exec_max_postings // ratio

    def _rank_splits(
        self, cands: list[tuple[int, int, str, str]]
    ) -> list[tuple[str, str]]:
        """Order candidate word-splits the way the reference does
        (``query_graph.rs:398-453``): by pair-proximity-1 doc frequency —
        how many documents contain ``left`` immediately followed by
        ``right``. The reference reads this from its precomputed
        ``word_pair_proximity_docids`` DB; we compute it on demand from
        stored positions with the ``_aligned_keys`` phrase kernel over
        driver point-read postings (row-group-pruned pyarrow, no Spark
        job). Only runs when the order can matter (>1 candidate); falls
        back to min-df descending when positions aren't stored or the
        candidates' postings exceed the driver point-read budget.

        ``cands`` rows are ``(min_df, half_dfs, left, right)`` where
        ``half_dfs`` maps each half to its df. The point-read budget is the
        df sum over DISTINCT terms across all candidates (shared halves
        counted once — per-candidate sums double-count them and could
        needlessly skip the reference-accurate ranking); pair counts cache
        per (left, right) across plan() calls on this handle.
        """
        if len(cands) <= 1:
            return [(c[2], c[3]) for c in cands]
        union_df: dict[str, int] = {}
        for _m, half_dfs, _l, _r in cands:
            union_df.update(half_dfs)
        uncached = [
            c for c in cands if (c[2], c[3]) not in self._split_rank_cache
        ]
        if self.config.store_positions and (
            not uncached or self._fits_driver(union_df)
        ):
            if uncached:
                terms = sorted({h for c in uncached for h in (c[2], c[3])})
                readers = self._readers_for(terms)
                occ_cache: dict[str, np.ndarray] = {}
                for _min_df, _half_dfs, left, right in uncached:
                    self._split_rank_cache[(left, right)] = len(_phrase_live(
                        readers, self._deleted, self._partial_tombs,
                        [left, right], occ_cache))
            ranked = sorted(
                ((self._split_rank_cache[(c[2], c[3])], c[0], c[2], c[3])
                 for c in cands),
                key=lambda c: (-c[0], -c[1], c[2]),
            )
            return [(c[2], c[3]) for c in ranked]
        cands = sorted(cands, key=lambda c: (-c[0], c[2]))
        return [(c[2], c[3]) for c in cands]

    def _expand_prefix(self, prefix: str) -> dict[str, int]:
        d = self._local_dict()
        if d is not None:
            return {t: df for t, df in d.items() if t.startswith(prefix)}
        rows = (
            self._terms.filter(F.col("term").startswith(prefix))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: r["df"] for r in rows}

    def _typo_scan(self, word: str) -> tuple[int, dict[str, int]]:
        """The dictionary scan of ``_expand_typo`` and ``suggest``:
        ``word``'s typo budget under the index settings, and term -> df of
        the terms that can lie within it. A budget of 0 is an exact lookup.
        Otherwise the local dictionary, when held, is filtered on the length
        window; without it one Spark filter also bounds the Levenshtein
        distance. The callers apply the distance bound."""
        s = self.settings
        budget = (max_typos_for(word, s.typo_one_min_len, s.typo_two_min_len)
                  if s.typos_enabled else 0)
        if budget == 0:
            return 0, self._lookup_exact([word])
        d = self._local_dict()
        if d is not None:
            return budget, {t: df for t, df in d.items()
                            if abs(len(t) - len(word)) <= budget}
        rows = (
            self._terms.filter(
                (F.length("term") >= len(word) - budget)
                & (F.length("term") <= len(word) + budget)
                & (F.levenshtein(F.col("term"), F.lit(word)) <= budget)
            )
            .select("term", "df")
            .collect()
        )
        return budget, {r["term"]: r["df"] for r in rows}

    def _expand_typo(self, word: str) -> dict[str, int]:
        budget, stats = self._typo_scan(word)
        chosen = typo_candidates(
            word, stats.keys(), budget=budget,
            max_expansions=self.settings.typo_max_expansions,
        )
        return {t: stats[t] for t in chosen}

    def plan(
        self,
        query: str,
        k: int = 10,
        *,
        ngrams: bool | None = None,
        synonyms: dict[str, list[str]] | None = None,
        splits: bool | None = None,
        split_take_n: int | None = None,
        match_all: bool = False,
        proximity: float | None = None,
        proximity_mode: str = "pairs",
        exactness: float = 0.0,
        matching_strategy: str | None = None,
    ) -> QueryPlan:
        """Query plan: exact/prefix/typo lookups plus optional derivations.

        ``ngrams=True`` adds concatenations of 2..3 adjacent query words that
        exist in the dictionary (reference Q3, ``query_graph.rs:72-133``:
        "new york" also matches the indexed term "newyork").
        ``synonyms`` maps a query word to replacement words scored alongside
        it (reference Q5, settings-driven synonym map).
        ``splits=True`` derives two-word splits of each query word whose
        halves both exist in the dictionary ("newyork" also matches
        "new york"; reference Q6, ``query_graph.rs:398-453``). Candidate
        splits are ranked by pair-proximity-1 doc frequency — the number
        of documents where left is immediately followed by right — exactly
        the reference's ``word_pair_proximity_docids`` rank, computed on
        demand from stored positions via the driver point-read path
        (``_rank_splits``) instead of a precomputed pair DB. When positions
        aren't stored or the candidates' postings exceed the point-read
        budget, falls back to min(df(left), df(right)) descending
        (documented fallback). Top ``split_take_n`` kept (reference
        ``split_take_n=4``, ``src/update/split_config.rs``).

        ``matching_strategy`` (reference TermsMatchingStrategy,
        ``src/search/mod.rs:226-238``): 'any' = disjunctive BM25 (engine
        default), 'all' = every scoring term mandatory (== match_all),
        'last' = the reference DEFAULT: bucket by longest matched prefix of
        query words, drop-last-word-first (see QueryPlan.word_groups).
        Under 'last' a word's synonym/prefix/typo derivations count as
        matching that word; ngram and split derivations still contribute
        BM25 score but not word-match credit (they span/alter word
        boundaries — documented deviation). Word order for prefix counting
        is ``pq.words + pq.prefixes + pq.typos`` (markered words are
        almost always trailing, matching drop-last semantics).

        Every keyword above (plus the typo thresholds used by
        ``_expand_typo``) DEFAULTS from the index's persisted settings
        (``meta.json["settings"]``, reference ``src/update/settings.rs``);
        passing it explicitly overrides per call.
        """
        s = self.settings
        if ngrams is None:
            ngrams = s.ngrams
        if synonyms is None:
            synonyms = s.synonyms or None
        if splits is None:
            splits = s.splits
        if split_take_n is None:
            split_take_n = s.split_take_n
        if proximity is None:
            proximity = s.proximity
        if matching_strategy is None:
            matching_strategy = s.matching_strategy
        if matching_strategy not in ("any", "all", "last"):
            raise ValueError(
                f"matching_strategy must be any|all|last, got {matching_strategy!r}"
            )
        if matching_strategy == "all":
            match_all = True
        pq: ParsedQuery = parse_query(query)
        # provenance: original query word -> its scoring terms, for 'last'
        prov: dict[str, list[str]] = {}

        def note(src: str, terms: Iterable[str]) -> None:
            lst = prov.setdefault(src, [])
            for t in terms:
                if t not in lst:
                    lst.append(t)
        scoring: dict[str, int] = {}
        # per-term derivation penalty (reference K3/K6 analogue, see
        # config.py): exact query words carry 1.0; derived terms carry the
        # frozen penalty for their derivation route. A term reachable by
        # several routes keeps the LARGEST weight (exact beats derived).
        penalty: dict[str, float] = {}

        def add(stats: dict[str, int], pen: float):
            for t, df in stats.items():
                scoring[t] = df
                if pen > penalty.get(t, 0.0):
                    penalty[t] = pen

        found_exact = self._lookup_exact(pq.all_scoring_words())
        add(found_exact, 1.0)
        for w in pq.words:
            if w in found_exact:
                note(w, [w])
        syn_phrases: list[tuple[tuple[str, ...], float]] = []
        if synonyms:
            # Reference Q5 full semantics (query_graph.rs:307-396): keys may
            # be single words OR multi-word phrases (matched against
            # consecutive query-word runs); values may be single words
            # (scored alongside, SYNONYM_PENALTY) or multi-word phrases
            # (scored as a consecutive-phrase pseudo-term — see
            # QueryPlan.syn_phrases).
            single_targets: list[str] = []
            noted: dict[str, list[str]] = {}
            phrase_cands: list[tuple[str, ...]] = []

            def expand(src_words: list[str], vals: Iterable[str]) -> None:
                for v in vals:
                    parts = v.split()
                    if len(parts) == 1:
                        single_targets.extend(parts)
                        for sw in src_words:
                            noted.setdefault(sw, []).extend(parts)
                    elif parts:
                        phrase_cands.append(tuple(parts))

            for w in pq.words:
                if w in synonyms:
                    expand([w], synonyms[w])
            for key in synonyms:
                kws = key.split()
                if len(kws) < 2:
                    continue
                n = len(kws)
                for i in range(len(pq.words) - n + 1):
                    if pq.words[i:i + n] == kws:
                        # every word of the matched run gets word credit
                        expand(kws, synonyms[key])
                        break
            syn_found = self._lookup_exact(single_targets)
            add(syn_found, SYNONYM_PENALTY)
            for w, ts in noted.items():
                note(w, [t for t in ts if t in syn_found])
            for ph in dict.fromkeys(phrase_cands):
                dfp = self._phrase_df(ph)
                if dfp is None:
                    # positions absent / over the point-read budget:
                    # documented fallback — the phrase words score as
                    # independent synonym terms (adjacency not enforced)
                    add(self._lookup_exact(list(ph)), SYNONYM_PENALTY)
                elif dfp > 0:
                    syn_phrases.append(
                        (ph, SYNONYM_PENALTY
                         * bm25_idf(self.n_docs_indexed, dfp))
                    )
        if ngrams:
            words = pq.words
            grams = [
                "".join(words[i : i + n])
                for n in (2, 3)
                for i in range(max(0, len(words) - n + 1))
            ]
            add(self._lookup_exact(grams), NGRAM_PENALTY)
        if splits:
            for w in pq.words:
                cands = []
                for i in range(1, len(w)):
                    halves = self._lookup_exact([w[:i], w[i:]])
                    if len(halves) == 2:
                        cands.append((min(halves.values()), dict(halves),
                                      w[:i], w[i:]))
                for left, right in self._rank_splits(cands)[:split_take_n]:
                    add(self._lookup_exact([left, right]), SPLIT_PENALTY)
        for pref in pq.prefixes:
            exp = self._expand_prefix(pref)
            for t, df in exp.items():
                add({t: df}, 1.0 if t == pref else PREFIX_PENALTY)
            note(pref, exp)
        for ty in pq.typos:
            exp = self._expand_typo(ty)
            for t, df in exp.items():
                add({t: df}, TYPO_PENALTY ** levenshtein(ty, t, cap=3))
            note(ty, exp)
        weights = {
            t: bm25_idf(self.n_docs_indexed, df) * penalty[t]
            for t, df in scoring.items()
        }
        exact_words: list[str] | None = None
        if exactness:
            if not self.config.store_positions:
                raise ValueError(
                    "exactness needs positions: the index was built with "
                    "store_positions=False"
                )
            exact_words = list(pq.words)
        prox_pairs: list[tuple[str, str]] = []
        prox_gaps: list[float] | None = None
        if proximity_mode not in ("pairs", "cost"):
            raise ValueError(
                f"proximity_mode must be pairs|cost, got {proximity_mode!r}"
            )
        if proximity:
            if not self.config.store_positions:
                raise ValueError(
                    "proximity ranking needs positions: the index was built "
                    "with store_positions=False"
                )
            # consecutive original-query word pairs whose members both made
            # it into the scoring set (exact words only — derivations have
            # no query position); self-pairs are meaningless, skip
            if proximity_mode == "cost":
                # multi-pair budgeted cost model (QueryPlan.prox_gaps spec):
                # ALL word pairs i<j with both words indexed, query-gap
                # weight g = 1/(j-i); consecutive-only S = terms-1 recovers
                # the reference budget (terms-1)*4
                prox_gaps = []
                ws = pq.words
                for i in range(len(ws)):
                    for j in range(i + 1, len(ws)):
                        a_w, b_w = ws[i], ws[j]
                        if a_w != b_w and a_w in weights and b_w in weights:
                            prox_pairs.append((a_w, b_w))
                            prox_gaps.append(1.0 / (j - i))
                if not prox_pairs:
                    prox_gaps = None
            else:
                prox_pairs = [
                    (a, b)
                    for a, b in zip(pq.words, pq.words[1:])
                    if a != b and a in weights and b in weights
                ]
        word_groups = None
        if matching_strategy == "last":
            ordered = [*pq.words, *pq.prefixes, *pq.typos]
            word_groups = [prov.get(w, []) for w in ordered]
        return QueryPlan(
            term_weights=weights, phrases=pq.phrases, negated=pq.negated, k=k,
            match_all=match_all, prox_pairs=prox_pairs,
            prox_weight=float(proximity), prox_gaps=prox_gaps,
            exact_boost=float(exactness), exact_words=exact_words,
            word_groups=word_groups, syn_phrases=syn_phrases or None,
        )

    def _phrase_df(self, words: tuple[str, ...]) -> int | None:
        """Number of live docs containing ``words`` at consecutive positions
        (phrase df for synonym-phrase idf). Driver point-read + the
        ``_aligned_keys`` phrase kernel, cached per phrase tuple
        (shares the pair cache with ``_rank_splits`` — a 2-word phrase df
        IS the pair-proximity-1 doc count). Returns None when positions
        aren't stored or the words' postings exceed the point-read budget
        (callers fall back to independent-term scoring); 0 when a word is
        unindexed or the phrase never occurs."""
        if not self.config.store_positions:
            return None
        key = tuple(words)
        cached = self._split_rank_cache.get(key)
        if cached is not None:
            return cached
        dfs = self._lookup_exact(sorted(set(words)))
        if len(dfs) < len(set(words)):
            self._split_rank_cache[key] = 0
            return 0
        if not self._fits_driver(dfs):
            return None
        n = len(_phrase_live(self._readers_for(sorted(dfs)), self._deleted,
                             self._partial_tombs, list(words)))
        self._split_rank_cache[key] = n
        return n

    # -- execution ---------------------------------------------------------
    def _postings_for(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.config.num_buckets) for t in terms})
        src = self._postings
        if self._pinned is not None and set(buckets) <= self._pinned_buckets:
            src = self._pinned
        return src.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def _per_shard(
        self, terms: list[str], task, schema: str,
        filter_ast: dict | None = None,
    ) -> DataFrame:
        """The cluster route of every serving surface: ``task`` (a
        ``_shard_task``) runs once per shard over its postings rows of
        ``terms`` in one job, cogrouped with the shard's docids passing
        ``filter_ast`` when given. -> the tasks' rows, typed ``schema``."""
        postings = self._postings_for(terms).groupby("shard")
        if filter_ast is None:
            # one parameter: a two-parameter function is passed (key, pdf)
            return postings.applyInPandas(lambda pdf: task(pdf), schema=schema)
        allowed = self._doc_stats.filter(to_column(filter_ast)).select(
            "docid",
            (F.col("docid") % self.config.num_shards).cast("int").alias("shard"),
        )
        return postings.cogroup(allowed.groupby("shard")).applyInPandas(
            task, schema=schema)

    def _docid_set(self, terms: list[str], kernel) -> DataFrame:
        """The docid-set route of the per-result surfaces:
        ``kernel(readers, deleted, partial_tombs)`` returns the sorted live
        docids of ``terms``' postings, applying both kinds of tombstones.
        Within ``_fits_driver`` it runs once over driver point reads and no
        Spark job runs; above it, once per shard (``_per_shard``).
        -> DataFrame(docid long), sorted."""
        terms = sorted(set(terms))
        if self._fits_driver(terms):
            docs = kernel(self._readers_for(terms),
                          self._deleted if len(self._deleted) else None,
                          self._partial_tombs)
            return _local_df(self.spark, [(d,) for d in docs.tolist()],
                             "docid long")
        task = _shard_task(
            lambda readers, deleted, pt, _allowed: kernel(readers, deleted, pt),
            ("docid",), block_size=self.config.block_size, avgdl=self.avgdl,
            gen_avgdl=self.gen_avgdl, deleted=self._deleted_bc,
            partial_tombs=self._partial_bc,
        )
        return self._per_shard(terms, task, "docid long").orderBy("docid")

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "auto",
        filter_ast: dict | None = None,
        offset: int = 0,
        execution: str = "auto",
        **plan_kw,
    ) -> DataFrame:
        """-> DataFrame(rank int, docid long, pk string, score double).

        ``offset`` implements the reference's skip/limit pagination
        (``bucket_sort.rs:49-75``): top-(offset+k) heap, slice the tail.
        ``execution`` selects driver point-read vs cluster scoring (see
        ``execute``).
        """
        return self.execute(
            self.plan(query, k, **plan_kw), mode=mode, filter_ast=filter_ast,
            offset=offset, execution=execution,
        )

    def search_rows(
        self,
        query: str,
        k: int = 10,
        mode: str = "auto",
        filter_ast: dict | None = None,
        offset: int = 0,
        **plan_kw,
    ) -> list[dict]:
        """Serving-path search: identical semantics and ranking to
        ``search()`` but returns plain dicts. On the driver point-read path
        no Spark DataFrame is materialized at all (``search()`` wraps the
        same rows in a ``_local_df``, tens of ms on a small index);
        cluster-path queries take ``_cluster_rows``. The route is
        ``_driver_gate``'s, the same rule ``execute(execution='auto')``
        applies: filtered queries take the driver route too when
        ``sum(df) + n_docs`` fits ``driver_exec_max_postings``."""
        plan = self.plan(query, k, **plan_kw)
        if not plan.term_weights:
            return []
        rows = self._driver_gate(plan, mode, offset, "auto", filter_ast)
        if rows is None:
            rows = self._cluster_rows(plan, mode, offset, filter_ast)
        return [
            {"rank": r, "docid": d, "pk": p, "score": s} for r, d, p, s in rows
        ]

    def search_many(
        self,
        queries,
        k: int = 10,
        match_all: bool = False,
    ) -> DataFrame:
        """Batch retrieval: every query scored exactly as
        ``search_rows(text, k, match_all=match_all)`` scores it.

        Each query is planned by ``plan()`` (the full query grammar and the
        index's persisted settings, e.g. ``matching_strategy``) and scored
        by ``_topk`` with the scorer ``_pick_algo`` picks under mode 'auto'
        (``_batch_topk``). Planning costs what it costs in ``search_rows``:
        nothing while the dictionary is pinned on the driver, one
        dictionary job per ``plan()`` above ``_local_dict_max_terms``
        terms. Queries without a scoring term return no rows.

        The union of every plan's terms picks one of two branches:

        - driver: when its postings fit ``driver_exec_max_postings``
          (``_fits_driver``), they are point-read once with pyarrow and
          every query is scored in-process; no Spark job runs;
        - cluster: otherwise one ``_per_shard`` job over the union's
          postings; each shard task builds its readers once and scores
          every query; the shard rows are sorted per query on the driver.

        Either way one ``_pk_lookup`` serves all result docids.

        ``queries``: list of ``(query_id, text)`` pairs or a DataFrame with
        columns ``(query_id, query)`` (collected: the query side is the
        small side by definition). query_ids must be unique; they type the
        ``query_id`` column on every return (long when all are ints, else
        string), so empty and non-empty batches union.

        -> DataFrame(query_id, rank int, docid long, pk, score double),
        ties (score desc, docid asc) per query; rank 1..<=k.
        """
        if isinstance(queries, DataFrame):
            queries = [(r[0], r[1]) for r in queries.select("query_id", "query").collect()]
        qids = [qid for qid, _ in queries]
        if len(set(qids)) != len(qids):
            seen: set = set()
            dup = next(q for q in qids if q in seen or seen.add(q))
            raise ValueError(
                f"search_many requires unique query_ids; {dup!r} appears "
                "more than once (duplicate ids would silently merge into "
                "one interleaved ranking)"
            )
        qid_is_int = all(isinstance(q, (int, np.integer)) for q in qids)
        qid_type = "long" if qid_is_int else "string"
        plans = [
            (int(qid) if qid_is_int else str(qid), plan)
            for qid, text in queries
            if (plan := self.plan(text, k, match_all=match_all)).term_weights
        ]
        union = sorted({t for _, p in plans for t in _plan_terms(p)})
        avgdl, k1, b = self.avgdl, self.config.k1, self.config.b
        exact_dl_check = not self.config.field_cols

        if self._fits_driver(union):
            hits = _batch_topk(
                self._readers_for(union) if plans else {}, plans,
                self._deleted if len(self._deleted) else None,
                self._partial_tombs, k, avgdl, k1, b, exact_dl_check,
            )
        else:
            def kernel(readers, deleted, pt, _allowed):
                return [(q, d, s) for q, _r, d, s in _batch_topk(
                    readers, plans, deleted, pt, k, avgdl, k1, b,
                    exact_dl_check)]

            task = _shard_task(
                kernel, ("query_id", "docid", "score"),
                block_size=self.config.block_size, avgdl=avgdl,
                gen_avgdl=self.gen_avgdl, deleted=self._deleted_bc,
                partial_tombs=self._partial_bc,
            )
            by_query: dict = {}
            for q, d, s in self._per_shard(
                union, task, f"query_id {qid_type}, docid long, score double"
            ).collect():
                by_query.setdefault(q, []).append((d, s))
            hits = [
                (q, i + 1, d, s) for q, _p in plans
                for i, (d, s) in enumerate(sorted(
                    by_query.get(q, ()), key=lambda x: (-x[1], x[0]))[:k])
            ]
        pk_map = self._pk_lookup([d for _, _, d, _ in hits]) if hits else {}
        return self._rows_to_df(
            [(q, r, d, pk_map.get(d), s) for q, r, d, s in hits],
            f"query_id {qid_type}, rank int not null",
        )

    def matching_docids(self, terms: list[str]) -> DataFrame:
        """Disjunctive candidate set (reference R1 resolve_docids): the live
        docids holding >= 1 of ``terms``, the ``_live_union`` kernel on the
        ``_docid_set`` route (driver point reads within
        ``driver_exec_max_postings``, one task per shard above it).
        -> DataFrame(docid long), sorted."""
        return self._docid_set(terms, _live_union)

    def search_sorted(
        self,
        sort: list[tuple[str, str]],
        query: str | None = None,
        k: int = 10,
        offset: int = 0,
        filter_ast: dict | None = None,
    ) -> DataFrame:
        """Attribute-ordered retrieval (reference K7 SortRule,
        ``ranking/sort.rs:35-150``): candidates ordered by attribute columns
        with (docid asc) tiebreak, paginated. With a ``query`` the
        candidates are the docs its plan would score: the exhaustive
        scorer's candidate set, so negation, phrases and ``match_all`` (or
        the index's matching strategy) apply as they do in ``search``;
        without one, the whole universe. ``filter_ast`` narrows either.

        -> DataFrame(rank, docid, pk, <sort columns...>). Missing-value rows
        sort last (reference: missing-values bucket last).
        """
        base = self._doc_stats
        cols = ["docid", "pk", *[c for c, _ in sort]]
        if filter_ast is not None:
            require_fields(filter_ast, base.columns)
            base = base.filter(to_column(filter_ast))
        if query:
            p = self.plan(query, k)
            if not p.term_weights:
                return _local_df(self.spark, [], ", ".join(["rank int not null"] + [
                    f"{_quote_ident(c)} {base.schema[c].dataType.simpleString()}"
                    for c in cols]))
            avgdl, k1, b = self.avgdl, self.config.k1, self.config.b
            exact_dl_check = not self.config.field_cols

            def candidates(readers, deleted, pt) -> np.ndarray:
                return _exhaustive_scores(readers, p, None, avgdl, k1, b,
                                          deleted, pt, exact_dl_check)[0]

            base = base.join(self._docid_set(_plan_terms(p), candidates),
                             "docid")
        order = [
            (F.col(c).asc_nulls_last() if d.lower().startswith("asc")
             else F.col(c).desc_nulls_last())
            for c, d in sort
        ] + [F.col("docid").asc()]
        w = Window.orderBy(*order)
        out = (
            base.select(*cols)
            .orderBy(*order)
            .limit(offset + k)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") > offset)
            .select("rank", *cols)
        )
        return out

    def stats(self) -> DataFrame:
        """Index statistics — the reference's ``/stats`` surface
        (``src/index.rs:337`` ``number_of_documents``, ``:415``
        ``field_distribution``) widened with the dictionary/postings
        totals a Spark-side capacity planner wants:

        ``n_docs`` / ``avgdl`` from the live doc-stats table, ``n_terms``
        / ``n_postings`` (sum df) / ``total_tokens`` (sum cf) from the
        term dictionary, and one ``field_<attr>`` non-null count per
        stored attribute column (the field distribution).

        Scale shape: two full aggregations (doc spine + dictionary),
        both map-side combined down to ONE row each, each unpivoted
        driver-free with ``stack`` and the two unioned. Never collects a
        table.

        -> (stat, value double), ordered by stat.
        """
        attr_cols = [c for c in self.config.attr_cols
                     if c in self._doc_stats.columns]
        core = self._doc_stats.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.round(F.avg("dl"), 6).alias("avgdl"),
            *[F.count(F.col(_quote_ident(c))).cast("double").alias(f"field_{c}")
              for c in attr_cols],
        )
        tstats = self._terms.agg(
            F.count("*").cast("double").alias("n_terms"),
            F.sum("df").cast("double").alias("n_postings"),
            F.sum("cf").cast("double").alias("total_tokens"),
        )

        def unpivot(row: DataFrame) -> DataFrame:
            # attribute names are user data: labels go in as literals and
            # columns as quoted identifiers, so no name is parsed as SQL
            pairs = [x for s in row.columns
                     for x in (F.lit(s), F.col(_quote_ident(s)))]
            return row.select(
                F.stack(F.lit(len(row.columns)), *pairs).alias("stat", "value"))

        return unpivot(core).unionByName(unpivot(tstats)).orderBy("stat")

    def suggest(self, query: str) -> DataFrame:
        """Did-you-mean query correction: for every plain word in the
        query, the best dictionary term within its typo budget
        (reference thresholds ``src/update/typo_config.rs:27-35`` via
        ``max_typos_for``, honoring the index's persisted settings).
        "Best" = (smallest plain-Levenshtein distance, then highest
        document frequency, then lexicographic) — deterministic and
        engine-reproducible; a correctly-spelled word suggests itself at
        distance 0, a word with no candidate in budget yields no row.

        This is the user-facing sibling of ``_expand_typo`` (which feeds
        derived terms INTO ranking, reference Q4); ``suggest`` instead
        surfaces the single correction a "did you mean …?" UI shows.
        Note the metric is plain Levenshtein (a transposition costs 2),
        matching the SQL oracle's ``levenshtein``.

        Each word's candidates come from ``_typo_scan``, the dictionary
        scan ``_expand_typo`` uses: the local dictionary when it is held on
        the driver (no Spark job), else one Spark filter per word.

        -> (term, suggestion, dist, df), ordered by term.
        """
        pq = parse_query(query)
        words = set(pq.words + pq.typos + pq.prefixes
                    + [w for ph in pq.phrases for w in ph])
        rows = []
        for w in sorted(words):
            budget, cands = self._typo_scan(w)
            best = min(
                ((dist, -df, t) for t, df in cands.items()
                 if (dist := levenshtein(w, t, cap=budget + 1)) <= budget),
                default=None,
            )
            if best is not None:
                rows.append((w, best[2], best[0], -best[1]))
        return _local_df(self.spark, rows,
                         "term string, suggestion string, dist int, df long")

    def execute(
        self, plan: QueryPlan, mode: str = "auto", filter_ast: dict | None = None,
        offset: int = 0, execution: str = "auto",
    ) -> DataFrame:
        """``execution``: 'cluster' always runs the document-partitioned
        shard top-k (``_cluster_rows``; its rows merge on the driver at any
        k); 'driver' forces the point-read path; 'auto' picks 'driver' when
        the query's posting slices are small enough (``_driver_gate``:
        sum(df) <= driver_exec_max_postings, plus n_docs when a filter is
        given, since the driver then scans doc_stats with
        ``filters.to_arrow``). The driver path is the
        analogue of the reference's per-word LMDB point reads
        (src/search/db_cache.rs): partition- and row-group-pruned pyarrow
        reads + the SAME scorer functions, so the two paths are
        rank-identical (tested). Head terms at web scale blow the
        threshold and take the cluster path automatically, as do filters
        ``to_arrow`` cannot evaluate exactly like Spark (``filters``
        module docstring; 'driver' raises ValueError for those). A filter
        naming a field doc_stats lacks raises ValueError on every route.
        """
        if not plan.term_weights:
            return self._rows_to_df([])
        rows = None
        if execution != "cluster":
            rows = self._driver_gate(plan, mode, offset, execution, filter_ast)
        if rows is None:
            rows = self._cluster_rows(plan, mode, offset, filter_ast)
        return self._rows_to_df(rows)

    def _cluster_rows(
        self, plan: QueryPlan, mode: str, offset: int,
        filter_ast: dict | None = None,
    ) -> list[tuple]:
        """The cluster route of ``execute`` and ``search_rows``: each
        shard's top-(k + offset) (``make_shard_scorer`` on ``_per_shard``),
        collected and merged on the driver like the driver route's rows.
        -> (rank, docid, pk, score) tuples."""
        has_filter = filter_ast is not None
        if has_filter:
            require_fields(filter_ast, self._doc_stats_ds().schema.names)
        task = make_shard_scorer(
            block_size=self.config.block_size,
            avgdl=self.avgdl,
            k1=self.config.k1,
            b=self.config.b,
            algo=_pick_algo(mode, plan, has_filter,
                            self._partial_tombs is not None),
            has_filter=has_filter,
            gen_avgdl=self.gen_avgdl,
            deleted=self._deleted_bc,
            exact_dl_check=not self.config.field_cols,
            partial_tombs=self._partial_bc,
            **vars(replace(plan, k=plan.k + offset)),
        )
        shard_rows = self._per_shard(_plan_terms(plan), task, RESULT_SCHEMA,
                                     filter_ast).collect()
        merged = sorted(((r["docid"], r["score"]) for r in shard_rows),
                        key=lambda x: (-x[1], x[0]))
        return self._ranked_rows(merged[: offset + plan.k], offset)

    def _pk_lookup(self, docids: list[int]) -> dict:
        """pk per docid via a pyarrow point read of doc_stats (row-group
        stats pruning on docid) — no Spark job for a k-sized lookup."""
        import pyarrow.dataset as ds

        tbl = self._doc_stats_ds().to_table(
            columns=["docid", "pk"], filter=ds.field("docid").isin(docids))
        return dict(zip(tbl.column("docid").to_pylist(),
                        tbl.column("pk").to_pylist()))

    def _docs_lookup(
        self, docids: list[int], columns: list[str]
    ) -> dict[int, dict]:
        """Stored ``columns`` per docid via a pyarrow point read of the
        docs snapshot (files are docid-range-partitioned at build, so
        row-group stats prune to the k docids' groups — no Spark job).
        Newest generation wins per docid, matching ``_docs_snapshot()``
        semantics for live docids (the only callers pass docids that came
        out of a search, which are live by construction)."""
        import pyarrow.dataset as ds

        if not docids:
            return {}
        if self._docs_dataset is None:
            self._docs_dataset = ds.dataset(self.paths.docs, format="parquet")
        names = self._docs_dataset.schema.names
        cols = ["docid", *[c for c in columns if c in names],
                *[c for c in ("gen",) if c in names]]
        tbl = self._docs_dataset.to_table(
            columns=cols, filter=ds.field("docid").isin(list(docids)))
        out: dict[int, dict] = {}
        # stable sort by generation: a docid's newest version comes last
        for row in sorted(tbl.to_pylist(), key=lambda r: r.get("gen") or 0):
            row.pop("gen", None)
            out[row.pop("docid")] = row
        return out

    def _readers_for(
        self, all_terms: list[str]
    ) -> dict[str, list[tuple[PostingReader, float]]]:
        """Driver-side posting readers for ``all_terms``: pyarrow reads
        pruned to the terms' buckets (hive partition pruning on gen/bucket
        + row-group stats on term) — the analogue of the reference's
        per-word LMDB point reads (src/search/db_cache.rs)."""
        import pyarrow.dataset as ds

        buckets = [int(term_bucket(t, self.config.num_buckets)) for t in all_terms]
        if self._pq_dataset is None:
            self._pq_dataset = ds.dataset(self.paths.postings,
                                          format="parquet",
                                          partitioning="hive")
        dataset = self._pq_dataset
        flt = ds.field("bucket").isin(sorted(set(buckets))) & ds.field(
            "term"
        ).isin(all_terms)
        return _readers_from_rows(dataset.to_table(filter=flt).to_pylist(),
                                  self.config.block_size, self.avgdl,
                                  self.gen_avgdl)

    def _doc_stats_ds(self):
        """pyarrow dataset over doc_stats (every generation, dead rows
        included), created once per handle. ``gen`` is always in its
        schema: files written before generations existed read it as null,
        i.e. generation 0."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        if self._stats_dataset is None:
            d = ds.dataset(self.paths.doc_stats, format="parquet")
            if "gen" not in d.schema.names:
                d = ds.dataset(self.paths.doc_stats, format="parquet",
                               schema=d.schema.append(pa.field("gen", pa.int32())))
            self._stats_dataset = d
        return self._stats_dataset

    def _allowed_docids(self, expr) -> np.ndarray:
        """Sorted live docids whose doc_stats row passes ``expr`` (a
        ``filters.to_arrow`` expression): one pyarrow scan of doc_stats,
        then the generation-horizon rule of ``update._filter_dead`` — a
        row is dead when its docid has a tombstone with horizon > its gen —
        so a docid replaced in place is judged by its newest version's
        attributes only. Fully deleted docids are left to the scorer's
        ``deleted`` mask."""
        tbl = self._doc_stats_ds().to_table(columns=["docid", "gen"],
                                            filter=expr)
        docids = tbl.column("docid").to_numpy()
        if self._partial_tombs is not None:
            gen = tbl.column("gen").fill_null(0).to_numpy()
            docids = docids[_live_post_mask(docids, gen, self._partial_tombs)]
        return np.unique(docids)

    def _driver_gate(
        self, plan: QueryPlan, mode: str, offset: int, execution: str,
        filter_ast: dict | None = None,
    ) -> list[tuple] | None:
        """The point-read dispatch rule, shared by ``execute()`` and
        ``search_rows()`` so the two APIs can never diverge on which path a
        query takes: returns driver-scored (rank, docid, pk, score) tuples
        when the query's total postings fit ``driver_exec_max_postings`` or
        when execution='driver' forces it; None -> take the cluster path.
        ``_pick_algo`` decides the scorer once, here; the budget is divided
        by ``_WAND_DRIVER_COST_RATIO`` only when that scorer is WAND (a
        Python pivot loop), never for a query that runs exhaustive.

        A filtered query is served on the driver when ``sum(df) +
        n_docs_indexed <= driver_exec_max_postings``: the driver scans
        doc_stats (every row, live or dead) with ``filters.to_arrow``, an
        O(n_docs) cost charged against the same budget. A filter naming a
        field doc_stats lacks raises ValueError here. A filter ``to_arrow``
        cannot evaluate exactly as Spark does raises ``ArrowUnsupported``
        (non-ASCII string literals, whose lowercasing differs between
        Spark's and pyarrow's Unicode case tables; literals of another type
        than the column; NaN/None literals — see the ``filters`` module
        docstring): such a query takes the cluster route under 'auto', and
        execution='driver' raises."""
        expr = None
        if filter_ast is not None:
            try:
                expr = to_arrow(filter_ast, self._doc_stats_ds().schema)
            except ArrowUnsupported as e:
                if execution == "driver":
                    raise ValueError(
                        f"execution='driver' cannot evaluate this filter "
                        f"exactly; use 'auto' or 'cluster': {e}") from e
                return None
        all_terms = _plan_terms(plan)
        algo = _pick_algo(mode, plan, expr is not None,
                          self._partial_tombs is not None)
        fits = execution == "auto" and self._fits_driver(
            all_terms, self.n_docs_indexed if expr is not None else 0,
            _WAND_DRIVER_COST_RATIO if algo == "wand" else 1)
        if execution == "driver" or fits:
            return self._execute_driver(plan, algo, offset, all_terms, expr)
        return None

    def _execute_driver(
        self, plan: QueryPlan, algo: str, offset: int, all_terms: list[str],
        filter_expr=None,
    ) -> list[tuple]:
        """Point-read execution: prune to the query's buckets/terms with
        pyarrow, score in-process through the same ``_topk`` the shard UDFs
        call, with the scorer ``algo``. ``filter_expr`` (``filters.to_arrow``)
        restricts scoring to ``_allowed_docids``, like the cluster route's
        cogroup with doc_stats. -> (rank, docid, pk, score) tuples; latency
        is ~ms instead of a Spark job."""
        allowed = (None if filter_expr is None
                   else self._allowed_docids(filter_expr))
        readers = self._readers_for(all_terms)
        deleted = self._deleted if len(self._deleted) else None
        pairs = _topk(
            readers, plan, algo, plan.k + offset, self.avgdl, self.config.k1,
            self.config.b, deleted, allowed, self._partial_tombs,
            not self.config.field_cols,
        )
        return self._ranked_rows(pairs, offset)

    def _ranked_rows(
        self, pairs: list[tuple[int, float]], offset: int
    ) -> list[tuple]:
        """Top-(offset + k) (docid, score) pairs -> the (rank, docid, pk,
        score) tuples of the page after ``offset``, pk by ``_pk_lookup``."""
        pairs = pairs[offset:]
        if not pairs:
            return []
        pk_map = self._pk_lookup([d for d, _ in pairs])
        return [
            (offset + i + 1, int(d), pk_map.get(int(d)), float(s))
            for i, (d, s) in enumerate(pairs)
        ]

    def _rows_to_df(self, rows: list[tuple], head: str = "rank int") -> DataFrame:
        pk_t = self._doc_stats.schema["pk"].dataType.simpleString()
        return _local_df(self.spark, rows,
                         f"{head}, docid long, pk {pk_t}, score double")

    def highlight_results(
        self,
        results: DataFrame,
        query: str,
        *,
        crop_length: int | None = None,
        tag: tuple[str, str] = ("<em>", "</em>"),
        out_col: str = "snippet",
        **plan_kw,
    ) -> DataFrame:
        """Derived-term highlighting with best-window crop (reference O1:
        ``src/search/matches/mod.rs:12-894`` best-window centring +
        ``matching_words.rs:1-359`` derived-term matching): highlights
        EVERY scoring term of the query plan — typo/prefix/synonym/split
        derivations included, so 'serach~' highlights 'search' — and crops
        around the window with the most distinct matched terms. Fetches the
        first searchable field's text for the <=k result rows via the
        pyarrow docs point read (``_docs_lookup``) — decorating k rows must
        never shuffle the corpus (a left join against the docs snapshot
        cannot broadcast the corpus side and planned a full sort-merge
        exchange of every stored document). Falls back to the distributed
        join only when ``results`` exceeds the point-read cap."""
        from search_engine_spark.sources import highlight_best

        plan = self.plan(query, 10, **plan_kw)
        terms = sorted(
            set(plan.term_weights)
            | {w for ph in plan.phrases for w in ph}
            | {w for ph, _wt in (plan.syn_phrases or ()) for w in ph}
        )
        text_col = self.config.searchable_fields()[0][0]
        joined = self._attach_doc_cols(results, [text_col])
        return highlight_best(
            joined, terms, text_col=text_col, tag=tag,
            crop_length=crop_length, out_col=out_col,
        )

    # decorating top-k rows with stored fields: point-read path cap. Above
    # this many result rows (deep exports) the driver fetch would not be
    # k-bounded anymore and the distributed join is the right plan.
    _DOC_FETCH_DRIVER_MAX = 10_000

    def _attach_doc_cols(
        self, results: DataFrame, cols: list[str], order_by: str | None = None
    ) -> DataFrame:
        """Attach stored document columns to a (small) results DataFrame,
        sorted by the column ``order_by`` when given.

        <= _DOC_FETCH_DRIVER_MAX rows: collect the results (they are the
        k-bounded output of a search), pyarrow-point-read the docs snapshot
        for exactly those docids, and rebuild the decorated frame locally —
        zero corpus shuffle, no Spark job once the docs schema is read.
        Larger inputs keep the distributed left join against the live
        snapshot."""
        missing = [c for c in cols if c not in results.columns]
        if not missing:
            return results if order_by is None else results.orderBy(order_by)
        rows = results.limit(self._DOC_FETCH_DRIVER_MAX + 1).collect()
        if len(rows) > self._DOC_FETCH_DRIVER_MAX:
            docs = self._docs_snapshot()
            out = results.join(docs.select("docid", *missing), "docid", "left")
            return out if order_by is None else out.orderBy(order_by)
        if order_by is not None:
            rows.sort(key=lambda r: r[order_by])
        fields = self._docs_snapshot_schema()
        lookup = self._docs_lookup([r["docid"] for r in rows], missing)
        schema = StructType([*results.schema.fields, *[
            StructField(c, fields[c].dataType, True) for c in missing]])
        return _local_df(self.spark, [
            tuple(r) + tuple(lookup.get(r["docid"], {}).get(c) for c in missing)
            for r in rows], schema)

    def _docs_snapshot_schema(self) -> dict:
        """Column name -> StructField of the docs store (parquet footer
        read, no job)."""
        if not hasattr(self, "_docs_schema_cache"):
            self._docs_schema_cache = {
                f.name: f for f in self.spark.read.parquet(self.paths.docs).schema.fields
            }
        return self._docs_schema_cache

    def score_details(self, query: str, k: int = 10, **plan_kw) -> DataFrame:
        """Per-component score breakdown (reference K9
        ``src/score_details.rs:31-57``, per-rule rank/max_rank replaced by
        per-term BM25 contributions): for each top-k document, one row per
        non-zero part of its exhaustive score (``_exhaustive_scores``): a
        scoring term's ``weight * impact``, a ``~syn:a-b`` phrase synonym,
        a ``~prox:a:b`` pair bonus (``~prox`` under the cost model),
        ``~exact`` and, under ``matching_strategy='last'``, the ``~words``
        bucket fold. Sum(part) grouped by docid is the search score.

        -> DataFrame(docid long, term string, part double), built from one
        driver-side exhaustive pass over the query's own postings slices
        with the index's full and generation-horizon tombstones."""
        plan = self.plan(query, k, **plan_kw)
        rows: list[tuple[int, str, float]] = []
        if plan.term_weights:
            docs, scores, parts = _exhaustive_scores(
                self._readers_for(_plan_terms(plan)), plan, None, self.avgdl,
                self.config.k1, self.config.b,
                self._deleted if len(self._deleted) else None,
                self._partial_tombs, not self.config.field_cols,
            )
            top = docs[np.lexsort((docs, -scores))[:k]]
            for label, pdocs, values in parts:
                sel = np.isin(pdocs, top) & (values != 0)
                rows.extend((int(d), label, float(v))
                            for d, v in zip(pdocs[sel], values[sel]))
        return _local_df(self.spark, rows, "docid long, term string, part double")

    def fetch_documents(self, results: DataFrame) -> DataFrame:
        """Join ranked results back to the canonical document snapshot
        (reference O2 ``obkv_to_json``, ``src/lib.rs:209-234``): returns
        rank/score plus every stored document column, rank order. k-bounded
        inputs take the pyarrow point-read path (``_attach_doc_cols``) —
        no corpus shuffle to decorate k rows."""
        cols = [
            c for c in self._docs_snapshot_schema()
            if c not in ("docid", "gen")
        ]
        return self._attach_doc_cols(
            results.select("rank", "docid", "score"), cols, order_by="rank")

    # convenience for tests / oracle comparison
    def search_list(self, query: str, k: int = 10, **kw) -> list[tuple[int, float]]:
        rows = self.search(query, k=k, **kw).collect()
        return [(r["docid"], r["score"]) for r in rows]

    def phrase_docids(self, phrase: list[str]) -> DataFrame:
        """Docids containing the words at consecutive positions (reference R2
        ``phrase_resolve``, ``resolve_query_graph.rs:166-231``, rebuilt over
        exact stored positions): the ``_phrase_live`` kernel on the
        ``_docid_set`` route (driver point reads within
        ``driver_exec_max_postings``, one task per shard above it).
        Tombstoned documents are dropped (generation-horizon and full).
        -> DataFrame(docid long), sorted."""
        words = list(phrase)
        return self._docid_set(
            words, lambda readers, deleted, pt: _phrase_live(
                readers, deleted, pt, words))

    def expand_prefix_df(self, prefix: str) -> DataFrame:
        """Dictionary range scan (reference P11/P12 prefix postings):
        -> DataFrame(term, df) for terms starting with ``prefix``, sorted by
        term. ``_expand_prefix`` reads the local dictionary when it is held
        on the driver (no Spark job), else filters ``_terms`` with Spark."""
        return _local_df(self.spark, sorted(self._expand_prefix(prefix).items()),
                         "term string, df long")


def hybrid_search(
    ix: "SearchIndex",
    emb: DataFrame,
    query: str,
    query_vec: list[float],
    k: int = 10,
    semantic_ratio: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool: int | None = None,
) -> DataFrame:
    """Hybrid keyword + semantic retrieval (reference K12,
    ``src/search/hybrid.rs:19-219``: ratio-weighted merge of the two lists).

    Both retrievers fetch a pool of ``pool`` (default 3k) candidates; scores
    are max-normalized within each list (BM25 is unbounded, cosine is [-1,1])
    and fused: ``score = r * semantic + (1-r) * keyword``; docs found by only
    one retriever keep the other component at 0. -> (rank, docid, score).
    """
    from search_engine_spark.pipelines.similarity import cosine_topk

    pool = pool or 3 * k
    # Each retriever is a top-k job whose result is k-bounded (pool rows,
    # default 30) — driver-sized by construction. Collect each pool ONCE and
    # fuse driver-side: the previous plan ran `.agg(max).collect()` for the
    # normalizers and then re-executed both retrievers inside the join, so
    # the full BM25 search job ran twice per hybrid query.
    kw_rows = ix.search(query, k=pool).select(
        "docid", F.col("score").alias("kw")
    ).collect()
    sem_rows = cosine_topk(
        emb, query_vec, k=pool, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias("docid"), F.col("sim").alias("sem")).collect()

    # BM25 scores are >= 0: clamp the divisor so an empty/all-zero pool
    # normalizes to 0 instead of dividing by 0.
    kw_den = max(max((r["kw"] for r in kw_rows), default=0.0), 1e-9)
    # Cosine can be negative. Divide by max(sim) as long as it is positive
    # (matches the reference-oracle normalization); if every pooled sim is
    # <= 0, dividing by a negative max would INVERT the semantic ordering —
    # fall back to max|sim| so order is preserved and scores stay in [-1, 0].
    sem_max = max((r["sem"] for r in sem_rows), default=0.0)
    sem_den = sem_max if sem_max > 0 else max(
        max((abs(r["sem"]) for r in sem_rows), default=0.0), 1e-9
    )
    scores: dict[int, float] = {}
    for r in kw_rows:
        scores[r["docid"]] = (1.0 - semantic_ratio) * r["kw"] / kw_den
    for r in sem_rows:
        scores[r["docid"]] = (
            scores.get(r["docid"], 0.0) + semantic_ratio * r["sem"] / sem_den
        )
    top = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return _local_df(
        ix.spark, [(i + 1, int(d), float(s)) for i, (d, s) in enumerate(top)],
        "rank int, docid long, score double",
    )


def hybrid_search_rrf(
    ix: "SearchIndex",
    emb: DataFrame,
    query: str,
    query_vec: list[float],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool: int | None = None,
) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval (Cormack et al. 2009) —
    the score-free alternative to :func:`hybrid_search`'s ratio-weighted
    merge (reference K12): each retriever contributes
    ``1 / (rrf_k + rank)`` for the docs in its pool, missing docs
    contribute 0, and no normalization is needed because only ranks
    enter. RRF is what you reach for when the two score distributions
    are incomparable (fresh embedder, changed BM25 params).

    Rank within each pool is (score desc, docid asc) — the engines'
    shared tiebreak — so the fusion is deterministic. Pools are k-bounded
    collected lists exactly as in ``hybrid_search`` (each retriever runs
    ONCE). -> (rank, docid, score), score rounded at the caller.
    """
    from search_engine_spark.pipelines.similarity import cosine_topk

    pool = pool or 3 * k
    kw_rows = ix.search(query, k=pool).select(
        "docid", F.col("score").alias("kw")
    ).collect()
    sem_rows = cosine_topk(
        emb, query_vec, k=pool, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias("docid"), F.col("sim").alias("sem")).collect()

    scores: dict[int, float] = {}
    for rank, r in enumerate(
        sorted(kw_rows, key=lambda r: (-r["kw"], r["docid"])), start=1
    ):
        scores[r["docid"]] = scores.get(r["docid"], 0.0) + 1.0 / (rrf_k + rank)
    for rank, r in enumerate(
        sorted(sem_rows, key=lambda r: (-r["sem"], r["docid"])), start=1
    ):
        scores[r["docid"]] = scores.get(r["docid"], 0.0) + 1.0 / (rrf_k + rank)
    top = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return _local_df(
        ix.spark, [(i + 1, int(d), float(s)) for i, (d, s) in enumerate(top)],
        "rank int, docid long, score double",
    )


# ---------------------------------------------------------------------------
# shard-local scoring (runs inside Arrow-batched pandas UDFs)
# ---------------------------------------------------------------------------


def make_shard_scorer(
    *,
    block_size: int,
    avgdl: float,
    k1: float,
    b: float,
    algo: str,
    has_filter: bool,
    gen_avgdl: dict[int, float] | None = None,
    deleted=None,
    exact_dl_check: bool = True,
    partial_tombs=None,
    **plan_fields,
):
    """``execute``'s shard scorer: ``_shard_task`` bound to ``_topk`` for
    the plan ``QueryPlan(**plan_fields)`` and the scorer ``algo``
    (``_pick_algo``'s choice). Each task returns <=k rows (docid, score),
    ties (score desc, docid asc)."""
    plan = QueryPlan(**plan_fields)
    return _shard_task(
        lambda readers, tomb, pt, allowed: _topk(
            readers, plan, algo, plan.k, avgdl, k1, b, tomb, allowed, pt,
            exact_dl_check),
        ("docid", "score"), block_size=block_size, avgdl=avgdl,
        gen_avgdl=gen_avgdl or {}, deleted=deleted,
        partial_tombs=partial_tombs, has_filter=has_filter,
    )


def _shard_task(
    kernel, cols: tuple[str, ...], *, block_size: int, avgdl: float,
    gen_avgdl: dict[int, float], deleted=None, partial_tombs=None,
    has_filter: bool = False,
):
    """The one shard task of the cluster route (``SearchIndex._per_shard``)
    -> ``task(left, right=None)``: readers from the shard's postings rows
    ``left`` (one per term and generation), then ``kernel(readers, deleted,
    partial_tombs, allowed)``'s rows as a ``_pairs_frame`` of ``cols``.
    ``allowed``: the cogroup's right side (the shard's docids passing the
    filter), sorted, when ``has_filter``; else None. The tombstones come
    plain or as pyspark Broadcasts (a tiny pickled handle: they ship once
    per executor, not per task closure), unwrapped here, executor-side."""
    def task(left: pd.DataFrame, right: pd.DataFrame | None = None) -> pd.DataFrame:
        if len(left) == 0:
            return _pairs_frame([], cols)
        tomb = deleted.value if hasattr(deleted, "value") else deleted
        if tomb is not None and not len(tomb):
            tomb = None
        pt = (partial_tombs.value if hasattr(partial_tombs, "value")
              else partial_tombs)
        allowed: np.ndarray | None = None
        if has_filter:
            allowed = (
                np.sort(right["docid"].to_numpy(dtype=np.int64))
                if right is not None and len(right)
                else np.zeros(0, dtype=np.int64)
            )
        readers = _readers_from_rows(left.to_dict("records"), block_size,
                                     avgdl, gen_avgdl)
        return _pairs_frame(kernel(readers, tomb, pt, allowed), cols)

    return task


def _pairs_frame(rows, cols: tuple[str, ...]) -> pd.DataFrame:
    """A shard task's rows (tuples, or a docid array) -> its pandas result
    frame of ``cols``, docid int64 and score float64, typed even when
    empty."""
    types = {"docid": "int64", "score": "float64"}
    return pd.DataFrame(rows, columns=list(cols)).astype(
        {c: types[c] for c in cols if c in types})


def _readers_from_rows(
    rows: Iterable[dict], block_size: int, avgdl: float,
    gen_avgdl: dict[int, float],
) -> dict[str, list[tuple[PostingReader, float]]]:
    """Postings rows -> term -> [(reader, bound scale)], one reader per
    segment generation.

    Bound scaling: block-max metadata was computed with the avgdl at that
    generation's encode time. Scores always use the CURRENT avgdl, and
    impact(tf, dl, a) grows with a, bounded by impact * (aq/ae) for
    aq > ae — so each reader's bounds are multiplied by
    ``max(1, avgdl / gen_avgdl[gen])``, keeping WAND/MaxScore pruning
    admissible after appends shift the corpus avgdl."""
    readers: dict[str, list[tuple[PostingReader, float]]] = {}
    for row in rows:
        r = PostingReader.from_row(row, block_size)
        enc_avgdl = gen_avgdl.get(int(row.get("gen", 0)), avgdl)
        scale = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
        readers.setdefault(row["term"], []).append((r, scale))
    return readers


def _topk(
    readers: dict[str, list[tuple[PostingReader, float]]],
    plan: QueryPlan,
    algo: str,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None,
    allowed: np.ndarray | None,
    partial_tombs: tuple | None,
    exact_dl_check: bool,
) -> list[tuple[int, float]]:
    """The one scorer entry of the driver and cluster routes: top-``k``
    (docid, score) of ``plan`` over ``readers`` with the scorer ``algo``
    chosen by ``_pick_algo`` (which sends every non-plain plan to
    'exhaustive')."""
    if algo == "wand":
        return _wand_topk(readers, plan.term_weights, k, avgdl, k1, b, deleted)
    if algo == "maxscore":
        return _maxscore_topk(readers, plan.term_weights, k, avgdl, k1, b,
                              deleted)
    docs, scores, _parts = _exhaustive_scores(
        readers, plan, allowed, avgdl, k1, b, deleted, partial_tombs,
        exact_dl_check,
    )
    idx = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in idx]


def _batch_topk(
    readers: dict[str, list[tuple[PostingReader, float]]],
    plans: list[tuple[object, QueryPlan]],
    deleted: np.ndarray | None,
    partial_tombs: tuple | None,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    exact_dl_check: bool,
) -> list[tuple]:
    """``search_many``'s scoring loop, shared by its driver branch and its
    shard tasks: each ``(query_id, plan)`` runs ``_topk`` over the shared
    ``readers`` with the scorer ``_pick_algo`` picks under mode 'auto',
    as ``search_rows`` does. -> (query_id, rank, docid, score) rows."""
    out = []
    for qid, plan in plans:
        algo = _pick_algo("auto", plan, False, partial_tombs is not None)
        pairs = _topk(readers, plan, algo, k, avgdl, k1, b, deleted, None,
                      partial_tombs, exact_dl_check)
        out.extend((qid, i + 1, d, s) for i, (d, s) in enumerate(pairs))
    return out


def _last_fold(
    docids: np.ndarray,
    word_groups: list[list[str]],
    term_docs: dict[str, np.ndarray],
    term_weights: dict[str, float],
    prox_weight: float = 0.0,
    prox_pairs: list[tuple[str, str]] | None = None,
    exact_boost: float = 0.0,
    syn_phrases: list[tuple[tuple[str, ...], float]] | None = None,
) -> tuple[float, np.ndarray]:
    """Last strategy (the reference's words rule, see
    ``QueryPlan.word_groups``) -> (offset_val, per-doc bucket count over
    ``docids``). The bucket is the
    longest matched prefix of query words; a word matches through any of
    its group's terms (``term_docs``: term -> docids holding it). Scorers
    fold it as score += bucket * offset_val with offset_val > max possible
    bm25 + prox + exactness + phrase-synonym sum, so (bucket desc, bm25
    desc) == plain score sort and the shard merge / pagination stay
    untouched."""
    offset_val = (
        sum(abs(v) for v in term_weights.values())
        + abs(prox_weight) * max(1, len(prox_pairs or ()))
        + abs(exact_boost)
        + sum(abs(wt) for _ph, wt in (syn_phrases or ()))
        + 1.0
    )
    alive = np.ones(len(docids), dtype=bool)
    wcnt = np.zeros(len(docids), dtype=np.float64)
    for grp in word_groups:
        gdocs = [term_docs[t] for t in grp if t in term_docs]
        if gdocs:
            alive &= np.isin(docids, np.concatenate(gdocs))
        else:  # unindexed word: no doc can extend the prefix past it
            alive[:] = False
        if not alive.any():
            break
        wcnt += alive
    return offset_val, wcnt


def _exhaustive_topk(
    readers: dict[str, list[tuple[PostingReader, float]]],
    term_weights: dict[str, float],
    phrases: list[list[str]],
    neg_set: set[str],
    allowed: np.ndarray | None,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None = None,
    match_all: bool = False,
    prox_pairs: list[tuple[str, str]] | None = None,
    prox_weight: float = 0.0,
    prox_gaps: list[float] | None = None,
    exact_boost: float = 0.0,
    exact_words: list[str] | None = None,
    exact_dl_check: bool = True,
    word_groups: list[list[str]] | None = None,
    syn_phrases: list[tuple[tuple[str, ...], float]] | None = None,
    partial_tombs: tuple | None = None,
) -> list[tuple[int, float]]:
    """Top-k (docid, score) of ``_exhaustive_scores`` over the plan these
    fields make up."""
    plan = QueryPlan(
        term_weights=term_weights, phrases=phrases, negated=list(neg_set), k=k,
        match_all=match_all, prox_pairs=prox_pairs or [],
        prox_weight=prox_weight, prox_gaps=prox_gaps, exact_boost=exact_boost,
        exact_words=exact_words, word_groups=word_groups,
        syn_phrases=syn_phrases,
    )
    return _topk(readers, plan, "exhaustive", k, avgdl, k1, b, deleted,
                 allowed, partial_tombs, exact_dl_check)


def _exhaustive_scores(
    readers: dict[str, list[tuple[PostingReader, float]]],
    plan: QueryPlan,
    allowed: np.ndarray | None,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None = None,
    partial_tombs: tuple | None = None,
    exact_dl_check: bool = True,
) -> tuple[np.ndarray, np.ndarray, list[tuple[str, np.ndarray, np.ndarray]]]:
    """Vectorized full-decode scoring of every candidate of ``plan``:
    concatenate (docid, weight*impact) across terms (and segment
    generations), aggregate per docid with np.add.at, add the phrase-synonym
    pseudo-terms, the proximity bonus (reference K4; ``prox_gaps`` set
    selects the multi-pair budgeted cost model, see QueryPlan) and the
    exactness boost, apply the phrase/negation/filter/tombstone/match-all
    constraints, fold the Last-strategy words bucket (QueryPlan.word_groups).

    -> (sorted candidate docids, scores, parts). Each part is ``(label,
    docids, values)``, one per score component: a scoring term (one part
    per generation), ``~syn:a-b``, ``~prox:a:b`` (``~prox`` under the cost
    model), ``~exact`` and ``~words``. A candidate's score is the sum of
    its parts' values. Phrases, phrase synonyms, proximity and exactness
    decode each word's positions once, through one occurrence cache."""
    pt = partial_tombs
    occ_cache: dict[str, np.ndarray] = {}
    parts: list[tuple[str, np.ndarray, np.ndarray]] = []
    doc_chunks, score_chunks = [], []
    per_term_docs: list[np.ndarray] = []
    term_docs: dict[str, np.ndarray] = {}
    for term, idf in plan.term_weights.items():
        t_docs = []
        for r, _scale in readers.get(term, ()):  # scores use current avgdl
            docids, tfs, dls = _live_decode(r, pt)
            impact = bm25_impact(tfs, dls, avgdl, k1, b, weight=idf)
            parts.append((term, docids, impact))
            doc_chunks.append(docids)
            score_chunks.append(impact)
            t_docs.append(docids)
        if plan.match_all:
            per_term_docs.append(
                np.concatenate(t_docs) if t_docs else np.zeros(0, dtype=np.int64)
            )
        if plan.word_groups and t_docs:
            term_docs[term] = np.concatenate(t_docs)
    # phrase-synonym pseudo-terms (QueryPlan.syn_phrases spec): docs
    # matching ONLY the phrase still become candidates (appended with a
    # zero base score), then receive the weighted impact of tf_p
    syn_data: list[tuple[np.ndarray, np.ndarray]] = []
    for ph, wt in plan.syn_phrases or ():
        pdocs, pcnt, pdls = _phrase_matches(readers, list(ph), pt, occ_cache)
        if len(pdocs):
            pbonus = bm25_impact(pcnt, pdls, avgdl, k1, b, weight=wt)
            syn_data.append((pdocs, pbonus))
            parts.append(("~syn:" + "-".join(ph), pdocs, pbonus))
            doc_chunks.append(pdocs)
            score_chunks.append(np.zeros(len(pdocs), dtype=np.float64))
    if not doc_chunks:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty.astype(np.float64), parts
    docs = np.concatenate(doc_chunks)
    scores = np.concatenate(score_chunks)
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(agg, inv, scores)
    for pdocs, pbonus in syn_data:
        # every pdoc is in uniq by construction (appended above)
        np.add.at(agg, np.searchsorted(uniq, pdocs), pbonus)

    if plan.prox_weight and plan.prox_pairs:
        if plan.prox_gaps is not None:  # multi-pair budgeted cost model
            bonus = _cost_prox_bonus(
                readers, plan.prox_pairs, plan.prox_gaps, plan.prox_weight,
                uniq, occ_cache, pt,
            )
            parts.append(("~prox", uniq, bonus))
            agg += bonus
        else:
            for ta, tb in plan.prox_pairs:  # don't shadow the BM25 `b`
                pd_docs, pd_bonus = _pair_prox_bonus(
                    readers, ta, tb, plan.prox_weight, occ_cache, pt
                )
                if len(pd_docs):
                    parts.append((f"~prox:{ta}:{tb}", pd_docs, pd_bonus))
                    pos = np.searchsorted(uniq, pd_docs)
                    ok = (pos < len(uniq)) & (uniq[np.minimum(pos, len(uniq) - 1)] == pd_docs)
                    np.add.at(agg, pos[ok], pd_bonus[ok])

    if plan.exact_boost and plan.exact_words:
        ed = _exact_attr_docids(readers, plan.exact_words, exact_dl_check, pt,
                                occ_cache)
        if len(ed):
            parts.append(("~exact", ed, np.full(len(ed), plan.exact_boost)))
            epos = np.searchsorted(uniq, ed)
            eok = (epos < len(uniq)) & (uniq[np.minimum(epos, len(uniq) - 1)] == ed)
            agg[epos[eok]] += plan.exact_boost

    mask = np.ones(len(uniq), dtype=bool)
    for t_docs in per_term_docs:
        mask &= np.isin(uniq, t_docs)
    for ph in plan.phrases:
        mask &= np.isin(uniq, _phrase_docids(readers, ph, pt, occ_cache))
    for t in plan.negated:
        for r, _scale in readers.get(t, ()):
            nd, _, _ = _live_decode(r, pt)
            mask &= ~np.isin(uniq, nd)
    if allowed is not None:
        mask &= np.isin(uniq, allowed)
    if deleted is not None:
        mask &= ~np.isin(uniq, deleted)

    uniq, agg = uniq[mask], agg[mask]
    if plan.word_groups and len(uniq):
        offset_val, wcnt = _last_fold(
            uniq, plan.word_groups, term_docs, plan.term_weights,
            plan.prox_weight, plan.prox_pairs, plan.exact_boost,
            plan.syn_phrases,
        )
        words = wcnt * offset_val
        parts.append(("~words", uniq, words))
        agg = agg + words
    return uniq, agg, parts


_POS_STRIDE = np.int64(1) << 32  # positions are token indexes, far below 2^32
_POS_MASK = _POS_STRIDE - 1


def _live_post_mask(
    docids: np.ndarray, gen: "int | np.ndarray", pt: tuple
) -> np.ndarray:
    """True where the posting (or doc_stats row) is LIVE under
    generation-horizon tombstones ``pt = (sorted docids, horizons)``: dead
    iff horizon > gen. ``gen`` is one generation or one per docid."""
    td, th = pt
    if not len(td) or not len(docids):
        return np.ones(len(docids), dtype=bool)
    i = np.searchsorted(td, docids)
    ic = np.minimum(i, len(td) - 1)
    hit = (i < len(td)) & (td[ic] == docids)
    live = np.ones(len(docids), dtype=bool)
    live[hit] = th[ic[hit]] <= (gen[hit] if np.ndim(gen) else gen)
    return live


def _live_decode(
    r: PostingReader, pt: tuple | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """decode_all + generation-horizon filter (no-op when pt is None)."""
    docids, tfs, dls = r.decode_all()
    if pt is not None:
        m = _live_post_mask(docids, r.gen, pt)
        if not m.all():
            return docids[m], tfs[m], dls[m]
    return docids, tfs, dls


def _live_decode_flat(
    r: PostingReader, pt: tuple | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (docids, flat positions, lens) with generation-horizon filtering
    applied to postings AND their position tokens."""
    docids, _, _ = r.decode_all()
    flat, lens = r.decode_flat_positions()
    if pt is not None:
        m = _live_post_mask(docids, r.gen, pt)
        if not m.all():
            flat = flat[np.repeat(m, lens)]
            docids, lens = docids[m], lens[m]
    return docids, flat, lens


def _occurrence_keys(
    readers: dict[str, list[tuple[PostingReader, float]]],
    term: str,
    cache: dict[str, np.ndarray] | None = None,
    pt: tuple | None = None,
) -> np.ndarray:
    """Every (docid, position) occurrence of ``term`` packed as
    ``docid << 32 | pos``, sorted and unique. One flat decode per
    generation (a docid's live postings come from one generation); a
    single-generation stream is already sorted, multi-generation streams
    get one ``np.sort``. A BM25F field of weight w stores each of its
    positions w times; the copies fold to one key."""
    if cache is not None and term in cache:
        return cache[term]
    chunks = []
    for r, _scale in readers.get(term, ()):
        docids, flat, lens = _live_decode_flat(r, pt)
        if len(flat):
            chunks.append((np.repeat(docids, lens) << 32) | flat)
    if not chunks:
        keys = np.zeros(0, dtype=np.int64)
    elif len(chunks) == 1:
        keys = chunks[0]
    else:
        keys = np.sort(np.concatenate(chunks))
    dup = keys[1:] == keys[:-1]
    if dup.any():
        keys = keys[np.r_[True, ~dup]]
    if cache is not None:
        cache[term] = keys
    return keys


def _pair_minprox(
    readers: dict[str, list[tuple[PostingReader, float]]],
    a: str,
    b: str,
    occ_cache: dict[str, np.ndarray] | None = None,
    pt: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc minimum proximity for one query word pair: for docs
    containing both terms, minprox = min over occurrence pairs of
    (pb - pa) when pb > pa else (pa - pb + 1) — the reference's asymmetric
    word distance (``src/proximity.rs:7-15``) — clamped to >= 1.
    -> (sorted docids, minprox) over ALL docs containing both terms.

    Fully vectorized (no per-doc Python): both terms' occurrences are packed
    ``docid << 32 | pos`` sorted streams; for each occurrence of ``a`` ONE
    ``np.searchsorted`` into ``b``'s stream yields its nearest same-doc
    neighbor in each direction (the per-occurrence minimum is achieved at a
    nearest neighbor since the distance is monotone in the gap), then
    ``np.minimum.reduceat`` at docid boundaries folds occurrences to the
    per-doc minimum."""
    ka = _occurrence_keys(readers, a, occ_cache, pt)
    kb = _occurrence_keys(readers, b, occ_cache, pt)
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
    if not len(ka) or not len(kb):
        return empty
    da = ka >> 32
    pa = ka & _POS_MASK
    i = np.searchsorted(kb, ka, side="left")
    best = np.full(len(ka), np.inf)
    # forward: first b-occurrence with key >= ka — same doc means pb >= pa
    kf = kb[np.minimum(i, len(kb) - 1)]
    fwd = (i < len(kb)) & ((kf >> 32) == da)
    best[fwd] = (kf[fwd] & _POS_MASK) - pa[fwd]
    # backward: last b-occurrence with key < ka — same doc means pb < pa
    kbk = kb[np.maximum(i - 1, 0)]
    bwd = (i > 0) & ((kbk >> 32) == da)
    best[bwd] = np.minimum(best[bwd], (pa[bwd] - (kbk[bwd] & _POS_MASK) + 1))
    np.maximum(best, 1.0, out=best)
    # per-doc min over a's occurrences (da is sorted because ka is)
    doc_starts = np.flatnonzero(np.r_[True, da[1:] != da[:-1]])
    dmin = np.minimum.reduceat(best, doc_starts)
    docs = da[doc_starts]
    keep = np.isfinite(dmin)  # docs where b never co-occurs (inf) drop out
    return docs[keep], dmin[keep]


def _pair_prox_bonus(
    readers: dict[str, list[tuple[PostingReader, float]]],
    a: str,
    b: str,
    prox_weight: float,
    occ_cache: dict[str, np.ndarray] | None = None,
    pt: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Legacy per-pair proximity bonus (reference K4, frozen spec in
    QueryPlan): bonus ``prox_weight / minprox`` when minprox <= 7, else no
    bonus. -> (sorted docids, bonus), only rows with a bonus."""
    docs, dmin = _pair_minprox(readers, a, b, occ_cache, pt)
    sel = dmin <= 7
    return docs[sel], prox_weight / dmin[sel]


def _cost_prox_bonus(
    readers: dict[str, list[tuple[PostingReader, float]]],
    prox_pairs: list[tuple[str, str]],
    prox_gaps: list[float],
    prox_weight: float,
    uniq: np.ndarray,
    occ_cache: dict[str, np.ndarray] | None = None,
    pt: tuple | None = None,
) -> np.ndarray:
    """Multi-pair budgeted cost bonus (QueryPlan.prox_gaps spec) aligned to
    the candidate array ``uniq`` (sorted docids) — returns per-candidate
    bonus. Absent pairs cost 8 implicitly: the fold starts every doc at
    cost 8*S and subtracts each found pair's saving g*(8 - c)."""
    S = float(sum(prox_gaps))
    if S <= 0 or not len(uniq):
        return np.zeros(len(uniq), dtype=np.float64)
    saving = np.zeros(len(uniq), dtype=np.float64)
    for (ta, tb), g in zip(prox_pairs, prox_gaps):
        pd_docs, dmin = _pair_minprox(readers, ta, tb, occ_cache, pt)
        if not len(pd_docs):
            continue
        c = np.minimum(dmin, 8.0)
        pos = np.searchsorted(uniq, pd_docs)
        ok = (pos < len(uniq)) & (uniq[np.minimum(pos, len(uniq) - 1)] == pd_docs)
        np.add.at(saving, pos[ok], g * (8.0 - c[ok]))
    cost = 8.0 * S - saving
    budget = 4.0 * S
    return prox_weight * np.maximum(0.0, budget - cost) / budget


def _aligned_keys(
    readers: dict[str, list[tuple[PostingReader, float]]],
    words: list[str],
    pt: tuple | None = None,
    occ_cache: dict[str, np.ndarray] | None = None,
    anchored: bool = False,
) -> np.ndarray:
    """The positional-match kernel (reference R2 ``phrase_resolve``: a
    phrase is an intersection over positions): sorted keys
    ``docid << 32 | s`` of every start ``s`` at which ``words[i]`` sits at
    position ``s + i`` for every i.

    Word i's occurrence keys (``_occurrence_keys``: sorted and unique)
    keep the positions that can align, shift by -i onto the start they
    would belong to, and the k-way ``np.intersect1d`` keeps the starts
    every word agrees on — O(sum postings) sort-merge work, no
    per-candidate Python. A word at position < i cannot align;
    ``anchored`` keeps only field-local position == i instead, so the
    surviving starts are field starts (``fid << 16``)."""
    inter = np.zeros(0, dtype=np.int64)
    for i, t in enumerate(words):
        keys = _occurrence_keys(readers, t, occ_cache, pt)
        if anchored:
            keys = keys[(keys & 0xFFFF) == i] - i
        elif i:
            keys = keys[(keys & _POS_MASK) >= i] - i
        inter = keys if i == 0 else np.intersect1d(inter, keys,
                                                   assume_unique=True)
        if not len(inter):
            break
    return inter


def _first_word_dls(
    readers: dict[str, list[tuple[PostingReader, float]]],
    word: str,
    docs: np.ndarray,
    pt: tuple | None = None,
) -> np.ndarray:
    """dl of each of ``docs`` (sorted, every one holding ``word``) from
    ``word``'s postings — any word's postings carry the doc's dl."""
    decoded = [_live_decode(r, pt) for r, _scale in readers.get(word, ())]
    dd = np.concatenate([d for d, _tf, _dl in decoded])
    dl = np.concatenate([dl for _d, _tf, dl in decoded])
    if len(decoded) > 1:
        order = np.argsort(dd, kind="stable")
        dd, dl = dd[order], dl[order]
    return dl[np.searchsorted(dd, docs)]


def _phrase_docids(
    readers: dict[str, list[tuple[PostingReader, float]]],
    phrase: list[str],
    pt: tuple | None = None,
    occ_cache: dict[str, np.ndarray] | None = None,
) -> np.ndarray:
    """Docids (sorted) where the phrase occurs at consecutive positions."""
    return np.unique(_aligned_keys(readers, phrase, pt, occ_cache) >> 32)


def _drop_deleted(docs: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """``docs`` without the fully deleted docids ``deleted``."""
    if deleted is None or not len(deleted) or not len(docs):
        return docs
    return docs[~np.isin(docs, deleted)]


def _phrase_live(
    readers: dict[str, list[tuple[PostingReader, float]]],
    deleted: np.ndarray | None,
    pt: tuple | None,
    phrase: list[str],
    occ_cache: dict[str, np.ndarray] | None = None,
) -> np.ndarray:
    """Sorted live docids holding ``phrase`` at consecutive positions:
    ``_phrase_docids`` (generation-horizon tombstones ``pt``) minus the
    full deletes."""
    return _drop_deleted(_phrase_docids(readers, phrase, pt, occ_cache),
                         deleted)


def _live_union(
    readers: dict[str, list[tuple[PostingReader, float]]],
    deleted: np.ndarray | None,
    pt: tuple | None,
) -> np.ndarray:
    """Sorted live docids holding any term of ``readers``: the union of
    their ``_live_decode`` docids minus the full deletes."""
    chunks = [_live_decode(r, pt)[0] for rs in readers.values() for r, _ in rs]
    docs = np.unique(np.concatenate(chunks)) if chunks else np.zeros(
        0, dtype=np.int64)
    return _drop_deleted(docs, deleted)


def _phrase_matches(
    readers: dict[str, list[tuple[PostingReader, float]]],
    phrase: list[str],
    pt: tuple | None = None,
    occ_cache: dict[str, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(docids, occurrence counts, dls) for docs containing ``phrase`` at
    consecutive positions — the pseudo-term decode behind
    ``QueryPlan.syn_phrases``: counts are the phrase's tf (number of
    aligned starts)."""
    starts = _aligned_keys(readers, phrase, pt, occ_cache)
    if not len(starts):
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.float64))
    docs, counts = np.unique(starts >> 32, return_counts=True)
    dls = _first_word_dls(readers, phrase[0], docs, pt).astype(np.float64)
    return docs, counts, dls


def _exact_attr_docids(
    readers: dict[str, list[tuple[PostingReader, float]]],
    words: list[str],
    dl_check: bool,
    pt: tuple | None = None,
    occ_cache: dict[str, np.ndarray] | None = None,
) -> np.ndarray:
    """Docs where a searchable field's whole content equals ``words``
    (QueryPlan.exact_boost spec): the anchored match, words[i] at
    field-local position i. ``dl_check`` (single-field indexes)
    additionally requires the doc's token count to equal ``len(words)``."""
    docs = np.unique(
        _aligned_keys(readers, words, pt, occ_cache, anchored=True) >> 32)
    if dl_check and len(docs):
        docs = docs[_first_word_dls(readers, words[0], docs, pt) == len(words)]
    return docs


# ---------------------------------------------------------------------------
# block-max WAND
# ---------------------------------------------------------------------------


class _Cursor:
    """Block-skipping cursor over one term's shard postings. Blocks are
    decoded lazily; ``seek`` skips whole blocks via max_docid metadata."""

    __slots__ = ("r", "idf", "bi", "i", "docids", "scores", "exhausted",
                 "term_ub", "scale", "bm25")

    def __init__(self, reader: PostingReader, idf: float, scale: float,
                 avgdl: float, k1: float, b: float):
        self.r = reader
        self.idf = idf
        self.scale = scale  # avgdl-drift bound multiplier (>= 1, admissible)
        self.bm25 = (avgdl, k1, b)
        self.exhausted = reader.n_docs == 0
        self.term_ub = (
            float(idf * scale * reader.max_impact.max()) if not self.exhausted else 0.0
        )
        if not self.exhausted:
            self._load(0)

    def _load(self, bi: int):
        self.bi = bi
        self.docids, tfs, dls = self.r.decode_block(bi)
        self.scores = bm25_impact(tfs, dls, *self.bm25, weight=self.idf)
        self.i = 0

    @property
    def cur_doc(self) -> int:
        return int(self.docids[self.i])

    def block_ub(self) -> float:
        return float(self.idf * self.scale * self.r.max_impact[self.bi])

    def block_max_docid(self) -> int:
        return int(self.r.max_docid[self.bi])

    def advance(self):
        self.i += 1
        if self.i >= len(self.docids):
            if self.bi + 1 >= self.r.n_blocks:
                self.exhausted = True
            else:
                self._load(self.bi + 1)

    def seek(self, target: int):
        if self.exhausted or self.cur_doc >= target:
            return
        if self.block_max_docid() < target:
            nbi = int(np.searchsorted(self.r.max_docid, target, side="left"))
            if nbi >= self.r.n_blocks:
                self.exhausted = True
                return
            self._load(nbi)
        self.i = int(np.searchsorted(self.docids, target, side="left"))
        # block's max_docid >= target guarantees i < len(docids)


def _maxscore_topk(
    readers: dict[str, list[tuple[PostingReader, float]]],
    term_weights: dict[str, float],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Vectorized block-max MaxScore (Turtle & Flood 1995 + block-max
    refinement): rank-identical to exhaustive scoring, never slower than it
    asymptotically, and — unlike per-posting heap WAND — every inner step
    is a numpy batch, so it wins even on head-term-only queries where
    pruning cannot fire.

    Phase 1: process terms in DESCENDING max block impact bound; after each
    term, theta = k-th best partial score. Once the sum of the remaining
    terms' bounds is STRICTLY below theta, no unseen doc can reach the
    top-k, so the remaining ("non-essential") terms only need lookups for
    already-seen candidates.
    Phase 2: prune candidates whose partial score + remaining bounds fall
    strictly below theta (ties kept — (score desc, docid asc) total order
    decides, exactly like the WAND path), then decode ONLY the blocks of
    non-essential terms that contain surviving candidates (binary search
    over block_meta first/max docid — the block-max skip).

    Scores can differ from the exhaustive path by ~1 ulp (per-doc sums are
    accumulated term-by-term here vs one np.add.at pass there); ranks and
    6-decimal score values are identical, which is what the oracle gate
    compares.
    """
    terms = [t for t in term_weights if readers.get(t)]
    if not terms:
        return []
    bounds = {}
    for t in terms:
        mx = 0.0
        for r, scale in readers[t]:
            if r.n_blocks:
                mx = max(mx, float(np.max(r.max_impact)) * scale)
        bounds[t] = term_weights[t] * mx
    order = sorted(terms, key=lambda t: (-bounds[t], t))
    rem_after = np.concatenate(
        (np.cumsum([bounds[t] for t in order][::-1])[::-1][1:], [0.0])
    )

    def _contrib(t: str):
        idf = term_weights[t]
        for r, _scale in readers[t]:
            docids, tfs, dls = r.decode_all()
            if deleted is not None and len(deleted):
                keep = ~np.isin(docids, deleted)
                docids, tfs, dls = docids[keep], tfs[keep], dls[keep]
            yield docids, bm25_impact(tfs, dls, avgdl, k1, b, weight=idf)

    uniq = np.zeros(0, dtype=np.int64)
    agg = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    ness_start = len(order)
    for i, t in enumerate(order):
        chunks_d, chunks_s = [uniq], [agg]
        for d, s in _contrib(t):
            chunks_d.append(d)
            chunks_s.append(s)
        docs = np.concatenate(chunks_d)
        scores = np.concatenate(chunks_s)
        uniq, inv = np.unique(docs, return_inverse=True)
        agg = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(agg, inv, scores)
        if len(uniq) >= k:
            theta = np.partition(agg, len(agg) - k)[len(agg) - k]
        if rem_after[i] < theta:
            ness_start = i + 1
            break

    if ness_start < len(order):
        # candidate pruning: strict-inequality only, ties survive
        ub = agg + rem_after[ness_start - 1]
        keep = ub >= theta
        cand, cscore = uniq[keep], agg[keep]
        for j in range(ness_start, len(order)):
            t = order[j]
            idf = term_weights[t]
            for r, _scale in readers[t]:
                if r.n_blocks == 0 or len(cand) == 0:
                    continue
                # block of each candidate: last block with first_docid <= c
                bi = np.searchsorted(r.first_docid, cand, side="right") - 1
                ok_idx = np.flatnonzero(
                    (bi >= 0) & (cand <= r.max_docid[np.clip(bi, 0, None)])
                )
                if len(ok_idx) == 0:
                    continue
                # group candidates by block so each block is probed only
                # with its own candidates (cand is sorted, so ok_idx is
                # already grouped by ascending block)
                bi_ok = bi[ok_idx]
                bnds = np.flatnonzero(bi_ok[1:] != bi_ok[:-1]) + 1
                for grp in np.split(ok_idx, bnds):
                    bidx = int(bi[grp[0]])
                    d_b, tf_b, dl_b = r.decode_block(bidx)
                    sub = cand[grp]
                    pos = np.searchsorted(d_b, sub)
                    pos_ok = pos < len(d_b)
                    hit = np.zeros(len(sub), dtype=bool)
                    hit[pos_ok] = (
                        d_b[np.clip(pos, 0, len(d_b) - 1)][pos_ok] == sub[pos_ok]
                    )
                    if not hit.any():
                        continue
                    hp = pos[hit]
                    cscore[grp[hit]] += bm25_impact(tf_b[hp], dl_b[hp], avgdl,
                                                    k1, b, weight=idf)
        if deleted is not None and len(deleted) and len(cand):
            keepd = ~np.isin(cand, deleted)
            cand, cscore = cand[keepd], cscore[keepd]
        uniq, agg = cand, cscore

    if len(uniq) == 0:
        return []
    kk = min(k, len(uniq))
    idx = np.lexsort((uniq, -agg))[:kk]
    return [(int(uniq[i]), float(agg[i])) for i in idx]


def _wand_topk(
    readers: dict[str, list[tuple[PostingReader, float]]],
    term_weights: dict[str, float],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Block-max WAND with a k-bounded min-heap.

    Heap entries are (score, -docid): the heap minimum is the (score desc,
    docid asc) threshold. Pruning uses STRICT < so bound==threshold ties are
    evaluated — rank identity with exhaustive scoring is a tested invariant.
    One cursor per (term, segment generation); docids are disjoint across a
    term's generations so the OR-iteration stays correct. Tombstoned docs
    are skipped at insert time (bounds only over-estimate — admissible).
    """
    cursors = [
        _Cursor(r, idf, scale, avgdl, k1, b)
        for t, idf in term_weights.items()
        for r, scale in readers.get(t, ())
    ]
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []

    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.cur_doc)
        threshold = heap[0][0] if len(heap) >= k else -math.inf

        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.term_ub
            if acc >= threshold:
                pivot = i
                break
        if pivot == -1:
            break  # even all terms together can't reach the heap
        pivot_doc = cursors[pivot].cur_doc

        if cursors[0].cur_doc == pivot_doc:
            involved = [c for c in cursors if c.cur_doc <= pivot_doc]
            # block-max refinement: bound using the block that covers pivot_doc
            bub = 0.0
            for c in involved:
                if c.block_max_docid() >= pivot_doc:
                    bub += c.block_ub()
                else:
                    nbi = int(np.searchsorted(c.r.max_docid, pivot_doc, side="left"))
                    if nbi < c.r.n_blocks:
                        bub += float(c.idf * c.scale * c.r.max_impact[nbi])
            if len(heap) >= k and bub < threshold:
                # skip past the current blocks; docs strictly between
                # pivot_doc and `target` can only contain `involved` terms
                # whose block bounds already failed
                nxt = min(c.block_max_docid() for c in involved) + 1
                outside = [c.cur_doc for c in cursors if c.cur_doc > pivot_doc]
                if outside:
                    nxt = min(nxt, min(outside))
                target = max(pivot_doc + 1, nxt)
                for c in involved:
                    c.seek(target)
                continue
            at_pivot = [c for c in cursors if not c.exhausted and c.cur_doc == pivot_doc]
            is_deleted = deleted is not None and bool(
                np.searchsorted(deleted, pivot_doc) < len(deleted)
                and deleted[np.searchsorted(deleted, pivot_doc)] == pivot_doc
            )
            if not is_deleted:
                s = 0.0
                for c in at_pivot:
                    s += float(c.scores[c.i])
                entry = (s, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
            for c in at_pivot:
                c.advance()
        else:
            for c in cursors[:pivot]:
                c.seek(pivot_doc)

    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-d, s) for s, d in out]
