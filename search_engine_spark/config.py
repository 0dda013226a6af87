"""Index configuration.

Frozen constants mirror the reference engine where semantics carry over:

* ``MAX_WORD_LENGTH = 250`` bytes — reference ``src/lib.rs:109``, enforced at
  ``src/update/index_documents/extract/extract_docid_word_positions.rs:187``.
* ``MAX_POSITION = 65535`` — reference caps relative positions per attribute
  at 65536 (``src/lib.rs:111``).
* hard-separator position gap ``8`` — reference ``process_tokens``
  (``extract_docid_word_positions.rs:242-265``).
* BM25 ``k1=1.2, b=0.75`` with ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` —
  NOT in the reference (it uses ranking-rule bucket sort and never stores
  term frequencies); mandated by the rebuild's north rule. Ties broken by
  (score desc, docid asc) everywhere, including block-max bounds.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

MAX_WORD_LENGTH = 250  # bytes, UTF-8
MAX_POSITION = 65535
HARD_SEPARATOR_GAP = 8
SOFT_SEPARATOR_GAP = 1

BM25_K1 = 1.2
BM25_B = 0.75

# typo expansion thresholds — reference src/update/typo_config.rs:14-35
TYPO_ONE_MIN_LEN = 4
TYPO_TWO_MIN_LEN = 7
TYPO_MAX_EXPANSIONS = 20

# Derivation penalties (reference K3 TypoRule ``src/search/ranking/typo.rs``
# + K6 ExactnessRule ``src/search/ranking/exactness.rs:16-95`` analogues,
# folded into BM25 term weights): a derived scoring term contributes
# ``penalty * idf`` instead of full idf, so documents matching the exact
# query words outrank documents reached only through typo / prefix /
# synonym / split / ngram derivations — the reference expresses the same
# preference as rank buckets (exact > 1-typo > 2-typo; exact > derived).
# FROZEN: the single-process oracle and every DuckDB oracle SQL entry
# mirror these numbers exactly (rank-identity gate).
TYPO_PENALTY = 0.5      # per edit distance: weight = idf * 0.5**distance
PREFIX_PENALTY = 0.8    # prefix-derived term; the exact term itself stays 1.0
SYNONYM_PENALTY = 0.5   # reference costs synonym like a one-typo word
NGRAM_PENALTY = 0.5     # reference query_graph.rs gives ngrams typo-cost 1
SPLIT_PENALTY = 0.5

# prefix materialization — reference src/update/words_prefixes_fst.rs:17-18
PREFIX_MAX_LEN = 4
PREFIX_MIN_WORDS = 100


@dataclass
class IndexConfig:
    """Build-time configuration for one index.

    ``num_shards`` is the document-range sharding factor: every posting row
    is keyed ``(term, shard)`` with ``shard = docid % num_shards``. This is
    the "salted repartition-by-term": a head term ("the") is split across
    all shards instead of landing on one reducer, and query-time scoring is
    document-partitioned (classic distributed top-k: per-shard bounded heap,
    global merge). At 10^12 docs this would be thousands; tests use small
    values.

    ``num_buckets`` hash-partitions the *postings table files* by term so a
    query touching 3 terms prunes to <=3 buckets at scan time (replaces the
    reference's per-word LMDB point lookups, ``src/index.rs:110-111``).
    """

    text_col: str = "text"
    # Field-weighted search (reference K5 AttributeRule,
    # ``src/search/ranking/attribute.rs:18-238`` + per-field postings
    # ``word_fid_docids``, ``src/index.rs:121-122``), as BM25F with integer
    # field boosts — Lucene-style content-duplication semantics, exact
    # arithmetic: tf_w = sum_f w_f * tf_f, dl_w = sum_f w_f * dl_f, scored
    # by the unchanged BM25 formula over the weighted values. When set,
    # OVERRIDES text_col: each (column, weight) pair is a searchable field;
    # field fid's positions are packed ``fid << 16 | pos`` exactly like the
    # reference (``src/lib.rs:183-190``), so phrases and proximity never
    # match across field boundaries, and a title hit (weight 3) outranks a
    # body hit — the AttributeRule preference expressed as score shaping.
    field_cols: tuple[tuple[str, int], ...] = ()
    pk_col: str = "url"
    ts_col: str | None = "warc_ts"  # last-write-wins dedup column (T1/T2)
    docid_col: str | None = None  # pre-assigned integer docid, else derived
    attr_cols: tuple[str, ...] = ()  # filterable/sortable attributes kept in doc_stats

    num_shards: int = 8
    num_buckets: int = 8
    block_size: int = 128
    store_positions: bool = True
    # tokenization parallelism; None -> 2x defaultParallelism (the extract
    # stage must not inherit the input's file-layout partitioning)
    extract_partitions: int | None = None

    # Encode-group term salt: every (bucket, shard) postings encode group
    # splits into G term-hash subgroups, G sized from the extract stage's
    # postings count so one group holds ~encode_group_postings postings
    # (G = 1 at small corpora: identical plans, zero extra files). Without
    # it the stage's parallel grain is num_buckets x num_shards whole
    # groups hashed into shuffle partitions — at 16 shards a third of the
    # tasks carry 2-3 whole groups (hash collisions) and the stage wall is
    # a multi-group straggler, which caps measured 2->8 core scaling.
    encode_group_postings: int = 1_500_000

    k1: float = BM25_K1
    b: float = BM25_B

    # Stage-1 sorted-run materialization: inputs whose on-disk size is
    # unknown (not file-backed) or above this many bytes pin the deduped
    # sorted run as a staging parquet write (immune to cache eviction and
    # storage-pool pressure); smaller file-backed inputs pin it with
    # .persist(). MEASURED switch point (SURVEY §9.3): at 4M docs / 24g
    # driver the deserialized cache (~12-16 GB) exceeds the storage pool
    # and the build degrades ~1.7x; the staging write costs one extra
    # sequential parquet pass and holds flat.
    stage1_cache_max_bytes: int = 2 << 30

    # salting threshold is implicit: sharding is unconditional (uniform by
    # docid), which bounds every (term, shard) group to ~df/num_shards.

    def searchable_fields(self) -> tuple[tuple[str, int], ...]:
        """(docs-snapshot column, integer weight) per searchable field.
        Single-field indexes store their text under the canonical name
        'text'; multi-field indexes keep the source column names."""
        if self.field_cols:
            return tuple((c, int(w)) for c, w in self.field_cols)
        return (("text", 1),)

    def to_dict(self) -> dict:
        d = asdict(self)
        d["attr_cols"] = list(self.attr_cols)
        d["field_cols"] = [list(fw) for fw in self.field_cols]
        return d

    @staticmethod
    def from_dict(d: dict) -> "IndexConfig":
        d = {k: v for k, v in d.items() if k not in RETIRED_CONFIG_FIELDS}
        d["attr_cols"] = tuple(d.get("attr_cols", ()))
        d["field_cols"] = tuple(
            (str(c), int(w)) for c, w in d.get("field_cols", ())
        )
        return IndexConfig(**d)


# Build-path selectors that meta.json files of earlier indexes still carry.
# from_dict drops exactly these, so those indexes keep opening while any
# other unknown key still raises.
RETIRED_CONFIG_FIELDS = frozenset(
    {
        "term_rank_mode", "term_window_max_terms", "append_rank_mode",
        "append_window_max_docs", "stage1_staging", "encode_salt",
    }
)


# IndexConfig fields whose change alters what the extract stage produces —
# a settings diff touching any of these requires a reindex (reference
# ``Settings::execute`` decides the same way, ``src/update/settings.rs:865+``:
# searchable/filterable attribute changes re-run extraction, query-time
# settings like synonyms/typo just commit). Tuning knobs
# (extract_partitions, encode_group_postings, stage1_cache_max_bytes) change
# HOW the build runs, not what it produces, so they rewrite meta only.
EXTRACTION_AFFECTING = frozenset(
    {
        "text_col", "field_cols", "pk_col", "ts_col", "docid_col",
        "attr_cols", "num_shards", "num_buckets", "block_size",
        "store_positions", "k1", "b",
    }
)


@dataclass
class IndexSettings:
    """Per-index QUERY-TIME settings, persisted in ``meta.json`` alongside
    the build config (reference: synonyms, typo config and matching strategy
    are index state set once via the settings update, not per-query
    arguments — ``src/update/settings.rs:189-243``, typo config
    ``src/update/typo_config.rs``). ``SearchIndex.plan()`` defaults from the
    stored values; explicit ``plan()`` keyword arguments still override
    per-call (the reference's per-search overrides).

    None of these affect extraction, so updating them never reindexes —
    see ``update.update_settings`` for the diff logic."""

    synonyms: dict[str, list[str]] = field(default_factory=dict)
    matching_strategy: str = "any"  # reference default is "last"; "any" keeps
    # the engine's round-1 behavior for existing indexes
    proximity: float = 0.0
    ngrams: bool = False
    splits: bool = False
    split_take_n: int = 4
    typos_enabled: bool = True
    typo_one_min_len: int = TYPO_ONE_MIN_LEN
    typo_two_min_len: int = TYPO_TWO_MIN_LEN
    typo_max_expansions: int = TYPO_MAX_EXPANSIONS

    def __post_init__(self):
        if self.matching_strategy not in ("any", "all", "last"):
            raise ValueError(
                "matching_strategy must be any|all|last, got "
                f"{self.matching_strategy!r}"
            )

    def to_dict(self) -> dict:
        d = asdict(self)
        d["synonyms"] = {str(k): list(v) for k, v in self.synonyms.items()}
        return d

    @staticmethod
    def from_dict(d: dict) -> "IndexSettings":
        d = dict(d)
        d["synonyms"] = {
            str(k): [str(x) for x in v]
            for k, v in (d.get("synonyms") or {}).items()
        }
        return IndexSettings(**d)
