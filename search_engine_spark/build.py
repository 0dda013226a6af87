"""Distributed inverted-index build (SURVEY.md §2.2/§2.4 rebuilt Spark-first).

Pipeline (each stage checkpointed, see ``index.py``):

1. ``docs``      — last-write-wins dedupe by primary key (reference
   ``Transform::read_documents`` + ``ReplaceDocuments``,
   ``src/update/index_documents/transform.rs:107-360``) fused with
   deterministic docid assignment (docid = global rank of pk) in ONE range
   shuffle of the text (``dedupe_and_rank``). On a clean build the parquet
   snapshot write overlaps stage 2.
2. ``extract``   — Arrow-native ``mapInArrow`` tokenization (reference P1,
   ``extract_docid_word_positions.rs:26-127``), map-side combined: one
   (term, shard) row per extract task with docid/tf/dl arrays (see
   TERM_DOC_SCHEMA), doc lengths as bucket=-1 rows. Reads the stage-1
   cached sorted run directly on a clean build (no extra shuffle).
   Output spills to parquet partitioned by term-bucket — the extraction
   checkpoint.
3. ``doc_stats`` — (docid, pk, dl, attrs) + scalars N/avgdl (reference P4
   generalized to exact doc lengths — the data BM25 needs and the reference
   discards).
4. ``terms``     — global dictionary (term, df, cf, max_tf), sorted by term
   within each file (reference words FST, ``src/index.rs:56``). df is
   computed globally BEFORE sharding, so BM25 idf is exact regardless of
   salting.
5. ``postings``  — per term-bucket: ``groupBy(shard[, tsalt]).applyInArrow``
   merges each term's sorted runs and encodes sorted-docid delta+varint
   blocks with block-max metadata (reference P2 ``extract_word_docids.rs``
   + codec ``cbo_roaring_bitmap_codec.rs`` replaced per the north rule).
   ``shard = docid % num_shards`` is the skew salt: a head term's postings
   split into num_shards bounded groups, and query-time scoring is
   document-partitioned (per-shard top-k + global merge). At large corpora
   an additional term-hash salt ``tsalt`` (sized from the extract stage's
   postings count) subdivides each shard group so the encode task grain
   stays ~config.encode_group_postings postings — segments are
   byte-identical either way since a (term, shard) posting list never
   crosses groups.
6. ``finalize``  — meta.json commit (the "snapshot publish").

Full-data exchanges in the whole build: the stage-1 range shuffle and the
stage-5 groupBy(shard) — everything else is map-side or metadata.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
import zlib
from concurrent.futures import ThreadPoolExecutor
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from search_engine_spark.analysis import (
    tokenize_arrow_batch,
    tokenize_positions_arrow_batch,
)
from search_engine_spark.codecs import (
    delta_decode_runs,
    delta_encode_runs,
    encode_postings_batch,
    varint_decode,
    varint_encode_runs,
)
from search_engine_spark.config import IndexConfig, IndexSettings
from search_engine_spark.index import (
    STAGES,
    CheckpointLog,
    IndexPaths,
    read_meta,
    staged_write,
    write_meta,
)

POSTINGS_SCHEMA = (
    "bucket int, term string, shard int, n_docs int, "
    "docs binary, tfs binary, dls binary, poss binary, "
    "block_meta array<struct<first_docid:long, max_docid:long, max_impact:double, "
    "doc_off:long, tf_off:long, dl_off:long, pos_off:long>>"
)

# Extraction spill rows are map-side combined: one row per (term, shard)
# per extract task. This is the partial-aggregation analogue of the
# reference's per-chunk grenad sorters (P9, helpers/grenad_helpers.rs:34-57):
# the shuffle that feeds the encoder moves ~vocab-sized rows instead of one
# row per posting, which at web scale cuts shuffle row count by orders of
# magnitude.
# The per-run posting payload is COMPRESSED ALREADY IN THE EXTRACT KERNEL —
# docids delta+varint (first absolute, then gaps), tfs/dls plain varint,
# positions per-posting delta+varint — all emitted from ONE vectorized
# varint pass per batch (codecs.varint_encode_runs). Rationale: the spill
# representation is traversed ~6x (Python->JVM Arrow IPC, UnsafeRow
# conversion, parquet write, read, groupBy(shard) shuffle, IPC into the
# encoder), and the raw array form costs 16B/posting where the varint form
# costs ~4.3B (measured, 1M-doc webtext) — at the 8->32-thread level the
# build is DRAM-bandwidth-bound (SCALE.md), so bytes moved IS wall time.
# Scalar df/cf/max_tf per run ride along so the dictionary aggregation
# (terms_agg) stays JVM-side without touching the blobs.
# Doc lengths ride along as one synthetic row per extract batch under
# bucket = -1 (term='', shard=0, docs=delta+varint batch docids,
# tfs=varint dl per doc) — partition pruning on bucket makes reading them
# free.
TERM_DOC_SCHEMA = (
    "bucket int, term string, shard int, n int, cf long, max_tf int, "
    "docs binary, tfs binary, dls binary, poss binary"
)
TERM_DOC_SCHEMA_NOPOS = (
    "bucket int, term string, shard int, n int, cf long, max_tf int, "
    "docs binary, tfs binary, dls binary"
)

DL_BUCKET = -1


def term_doc_schema(config: "IndexConfig") -> str:
    return TERM_DOC_SCHEMA if config.store_positions else TERM_DOC_SCHEMA_NOPOS


def doc_lengths(term_doc: DataFrame) -> DataFrame:
    """(docid, dl) rows decoded from the bucket=-1 doc-length spill rows
    (docs = delta+varint batch docids, tfs = varint per-doc lengths)."""
    import pyarrow as pa

    def decode(batches) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            docids_chunks, dls_chunks = [], []
            n_col = batch.column(0).to_numpy(zero_copy_only=False)
            d_col, t_col = batch.column(1), batch.column(2)
            for i in range(batch.num_rows):
                n = int(n_col[i])
                if not n:
                    continue
                d = delta_decode_runs(
                    varint_decode(d_col[i].as_py(), n, dtype=np.int64),
                    np.zeros(1, dtype=np.int64),
                )
                docids_chunks.append(d)
                dls_chunks.append(
                    varint_decode(t_col[i].as_py(), n, dtype=np.int32)
                )
            docids = (
                np.concatenate(docids_chunks) if docids_chunks
                else np.zeros(0, np.int64)
            )
            dls = (
                np.concatenate(dls_chunks) if dls_chunks
                else np.zeros(0, np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(docids, type=pa.int64()),
                 pa.array(dls, type=pa.int32())],
                names=["docid", "dl"],
            )

    return (
        term_doc.filter(F.col("bucket") == DL_BUCKET)
        .select("n", "docs", "tfs")
        .mapInArrow(decode, schema="docid long, dl int")
    )


def terms_agg(term_doc: DataFrame) -> DataFrame:
    """Global (term, df, cf, max_tf) dictionary in its persisted shape,
    sorted by term within each partition so every written file's row-group
    min/max on ``term`` prunes dictionary point and prefix reads.

    Pure scalar groupBy over the per-run df/cf/max_tf the extract kernel
    emitted — column pruning skips the posting blobs entirely, so this
    reads ~vocab-sized data, not the postings."""
    return (
        term_doc.filter(F.col("bucket") != DL_BUCKET)
        .groupBy("term")
        .agg(
            F.sum("n").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
        )
        .sortWithinPartitions("term")
    )


def _offset_lookup(offsets: dict[int, int]):
    """Column expr: the cumulative-offset of this row's ``_pid``, as a pure
    JVM array-literal gather (``F.get(lit(array), _pid)``) instead of a
    broadcast join against a driver-made DataFrame.

    A ``createDataFrame([...])`` offsets side materializes through a
    python-RDD parallelize + BroadcastExchange — measured 12-38s of
    near-zero-CPU wall per build at 4M docs (32 tasks stuck behind the
    concurrently-running extract job's python workers). The array literal
    is part of the projection itself: zero extra stages, zero python.
    ~8 bytes/partition in the plan, fine to ~10^6 partitions; ``F.get``
    (0-based) returns NULL out of range regardless of ANSI mode, matching
    the old left-join + coalesce(0) semantics via the final coalesce."""
    if not offsets:
        return F.lit(0).cast("long")
    arr = [int(offsets.get(p, 0)) for p in range(max(offsets) + 1)]
    return F.coalesce(
        F.get(F.lit(arr).cast("array<long>"), F.col("_pid")),
        F.lit(0).cast("long"),
    )


def assign_docids(df: DataFrame, pk_col: str) -> tuple[DataFrame, DataFrame]:
    """-> (``df`` plus ``docid`` = global 0-based rank of pk, persisted
    handle). Scalable two-pass: range-sort into one partition per core,
    count rows per physical partition, rank within partition plus the
    partition's cumulative offset (an array-literal lookup — see
    ``_offset_lookup``).

    Deterministic for unique pks at any parallelism: ranks depend only on the
    total order of pk, not on where partition boundaries land. The sorted df
    is persisted so the count pass and the rank pass see the same partitions;
    the caller unpersists the returned handle once the ranks are written.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    d = df.repartitionByRange(n_parts, F.col(pk_col)).sortWithinPartitions(pk_col)
    d = d.withColumn("_pid", F.spark_partition_id())
    d.persist()
    counts = {r["_pid"]: r["cnt"] for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(pk_col)
    out = (
        d.withColumn(
            "docid",
            F.row_number().over(w) + _offset_lookup(offsets) - F.lit(1),
        )
        .drop("_pid")
    )
    return out, d


def dedupe_and_rank(
    df: DataFrame, pk_col: str, ts_col: str | None, out_cols: list[tuple[str, str]],
    n_parts: int, staging_dir: str | None = None,
    walls: dict | None = None,
) -> tuple[DataFrame, int]:
    """Last-write-wins dedupe by pk + deterministic dense docid in ONE
    full-data shuffle (reference T1/T2 ``transform.rs:107-360`` fused with
    docid assignment).

    Plan: range-partition by pk, sort (pk asc, ts desc) within partitions,
    persist; pass 1 counts distinct pks per partition (consecutive-compare
    over the sort, no hash set — scale-safe); pass 2 keeps the first row of
    each pk run and assigns ``docid = partition_offset + local_rank``.

    Deterministic at any parallelism: docids depend only on the global pk
    order, never on where sampled range boundaries land. The persist pins
    one sampling of the boundaries for both passes; pass 2 cross-checks its
    partition row count against pass 1 and fails loudly rather than emit
    wrong docids (eviction + resample would be detected).

    ``staging_dir`` switches the pin from ``.persist()`` to a staging
    parquet write of the sorted run (with _mid2/_pid already materialized
    in the files): every later job reads immutable bytes, so there is no
    eviction/resample window at all and no storage-pool pressure — the
    scale path (see ``_stage1_staging_dir``; the caller removes the directory
    when stage 1 completes).

    ``out_cols`` is ``[(src_name, out_name), ...]``; docid is prepended.
    Returns (docs_df, n_docs).

    Entirely JVM-side — the document text never crosses into Python:

    * dedupe: ``groupBy(pk).min(_mid)`` + semi-join back. RangePartitioning
      on pk satisfies ClusteredDistribution(pk) (and any superset of join
      keys), so Catalyst plans BOTH without an exchange — zero extra
      shuffles of the text.
    * rank: ``monotonically_increasing_id`` here is only an intra-partition
      ordinal (``pid << 33 | local_index`` on the pinned sorted cache); the
      per-partition offset literal corrects it to the global pk rank, so
      docids are still pure global ranks — the "never
      monotonically_increasing_id" rule (SURVEY §7) bans using its raw
      value as the docid, which would be layout-dependent.
    """
    payload = [c for c in df.columns if c != pk_col]
    key_cols = []
    if ts_col and ts_col in df.columns:
        key_cols.append(ts_col)
    key_cols += [c for c in payload if c not in key_cols]

    d = df.repartitionByRange(n_parts, F.col(pk_col))
    # last-write-wins dedupe as an order-independent aggregate: max of
    # struct(ts, payload) takes the newest ts, with a deterministic
    # lexicographic tie-break on the payload. RangePartitioning(pk)
    # satisfies ClusteredDistribution(pk), so the aggregate runs without a
    # second exchange — the text is shuffled exactly once. (A self-join
    # formulation is NOT safe here: its two branches can re-sample range
    # boundaries independently and silently drop rows.)
    dd = (
        d.groupBy(pk_col)
        .agg(F.max(F.struct(*key_cols)).alias("_s"))
        .select(pk_col, *[F.col(f"_s.{c}").alias(c) for c in key_cols])
        .sortWithinPartitions(pk_col)
    )
    # The cache pins _mid2/_pid VALUES: computing them lazily per action is
    # unsafe — AQE may plan differently-shaped actions (count vs insert)
    # with different partition layouts, silently remapping partition ids
    # between the offsets job and the write job (observed: duplicate
    # docids). Materializing them once makes every later job read the same
    # bytes.
    dd = (
        dd.withColumn("_mid2", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid2", 33).cast("int"))
    )
    t_sub = time.time()
    if staging_dir is not None:
        # one sequential write pins _mid2/_pid IN THE FILES — stronger than
        # a cache pin (no eviction window), zero storage-pool pressure
        dd.write.mode("overwrite").parquet(staging_dir)
        dd = df.sparkSession.read.parquet(staging_dir)
    else:
        dd = dd.persist()
    if walls is not None:
        walls["sorted_run_pin"] = round(time.time() - t_sub, 2)

    t_sub = time.time()
    counts = {
        r["_pid"]: r["n"]
        for r in dd.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if walls is not None:
        walls["pid_counts"] = round(time.time() - t_sub, 2)
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    n_docs = acc

    # _mid2 is deterministic for a pinned cache: both the counts job above
    # and the write job below read the same cached sorted partitions. The
    # caller cross-checks observed max_docid == n_docs-1, which catches a
    # lost-and-resampled cache before wrong docids are committed.
    local_idx = F.col("_mid2") - F.shiftleft(F.col("_pid").cast("long"), 33)
    docs = dd.select(
        (_offset_lookup(offsets) + local_idx).alias("docid"),
        *[F.col(s).alias(o) for s, o in out_cols],
    )
    return docs, n_docs


def _dedupe_last_write_wins(df: DataFrame, pk_col: str, ts_col: str | None) -> DataFrame:
    if ts_col and ts_col in df.columns:
        w = Window.partitionBy(pk_col).orderBy(F.col(ts_col).desc())
        return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    return df.dropDuplicates([pk_col])


def _extract_arrow_schema(store_positions: bool):
    import pyarrow as pa

    fields = [
        pa.field("bucket", pa.int32()),
        pa.field("term", pa.string()),
        pa.field("shard", pa.int32()),
        pa.field("n", pa.int32()),
        pa.field("cf", pa.int64()),
        pa.field("max_tf", pa.int32()),
        pa.field("docs", pa.binary()),
        pa.field("tfs", pa.binary()),
        pa.field("dls", pa.binary()),
    ]
    if store_positions:
        fields.append(pa.field("poss", pa.binary()))
    return pa.schema(fields)


def _binary_runs(buf: bytes, byte_offsets: np.ndarray) -> "object":
    """Zero-copy Arrow binary array: value i = buf[off[i]:off[i+1]].

    pa.binary() carries int32 offsets; Arrow caps batch ROW count but not
    byte size, so a batch of very long documents could exceed 2^31 encoded
    bytes — the cast would wrap negative and build a garbage array with no
    error. Guard loudly (switch to pa.large_binary() if ever hit)."""
    import pyarrow as pa

    if len(byte_offsets) and int(byte_offsets[-1]) >= (1 << 31):
        raise ValueError(
            f"encoded batch is {int(byte_offsets[-1])} bytes, past the "
            "int32 offset range of pa.binary(); lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    offs = np.ascontiguousarray(byte_offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(offs) - 1,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)],
    )


def make_extract_fn(config: IndexConfig):
    """mapInArrow extractor: (docid, text) batches -> (term, shard) array rows.

    The tokenizer is the frozen per-doc Python function shared with the
    oracle (the byte-identical per-url invariant); EVERYTHING else is
    vectorized — term interning via ``pd.factorize`` (C), per-(doc, term)
    tf via ``np.unique`` on a combined key, bucket hashes computed once per
    distinct term per batch. Output is map-side combined (see
    TERM_DOC_SCHEMA): one row per (term, shard) with docid/tf/dl arrays in
    docid order, plus one bucket=-1 doc-length row per batch.

    Why Arrow-native: the grouping already yields offsets+values form, and
    ``pa.ListArray.from_arrays(offsets, values)`` builds the list columns
    with zero per-element boxing. Both the per-posting-scalar-row variant
    (Arrow transfer of one row per posting) and the pandas object-Series
    variant (per-cell boxing on conversion) measured memory-bandwidth-bound
    at high parallelism — THIS path is what keeps extract strong-scaling.
    """
    import pyarrow as pa

    num_shards = config.num_shards
    num_buckets = config.num_buckets
    store_positions = config.store_positions
    out_schema = _extract_arrow_schema(store_positions)
    # BM25F multi-field (config.field_cols, reference K5): tokenize each
    # field separately, pack positions fid<<16|pos (reference
    # src/lib.rs:183-190), and REPLICATE each token weight-times — the
    # Lucene content-boost identity: tf_w = sum_f w_f*tf_f and
    # dl_w = sum_f w_f*dl_f fall out of the unchanged downstream kernel,
    # and len(positions) == tf stays true so the codec is untouched.
    fields = config.searchable_fields()
    multi_field = fields != (("text", 1),)

    def extract(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow.compute as pc

        for batch in batches:
            d_raw = batch.column(batch.schema.get_field_index("docid")).to_numpy(
                zero_copy_only=False
            )
            # docid-asc batch order makes every output array docid-sorted.
            # Batches read from the staging/docs parquet are already sorted
            # — skip the argsort AND the full string-column take (a whole-
            # batch text copy) in that common case.
            n_docs_b = len(d_raw)
            if n_docs_b and np.all(d_raw[1:] >= d_raw[:-1]):
                take_idx = None
                doc_ids = np.ascontiguousarray(d_raw, dtype=np.int64)
            else:
                order0 = np.argsort(d_raw, kind="stable")
                take_idx = pa.array(order0, type=pa.int64())
                doc_ids = np.ascontiguousarray(d_raw[order0], dtype=np.int64)

            if not multi_field:
                texts_sorted = batch.column(batch.schema.get_field_index("text"))
                if take_idx is not None:
                    texts_sorted = pc.take(texts_sorted, take_idx)
                if store_positions:
                    flat_arrow, doc_idx_arrow, lengths, pos_flat_np = (
                        tokenize_positions_arrow_batch(texts_sorted)
                    )
                    # positions <= MAX_POSITION (65535): 4-byte from the start
                    pos_flat_np = pos_flat_np.astype(np.int32, copy=False)
                else:
                    flat_arrow, doc_idx_arrow, lengths = tokenize_arrow_batch(
                        texts_sorted
                    )
                    pos_flat_np = None
            else:
                flats, idxs, poss_l = [], [], []
                lengths = np.zeros(n_docs_b, dtype=np.int64)
                for fid, (fname, w) in enumerate(fields):
                    col_sorted = batch.column(batch.schema.get_field_index(fname))
                    if take_idx is not None:
                        col_sorted = pc.take(col_sorted, take_idx)
                    if store_positions:
                        fa, di, ln, pf = tokenize_positions_arrow_batch(
                            col_sorted
                        )
                        # fid<<16 | pos fits int32 (pos <= 65535, few fields)
                        pf = pf.astype(np.int32, copy=False) + np.int32(fid << 16)
                    else:
                        fa, di, ln = tokenize_arrow_batch(col_sorted)
                        pf = None
                    if w != 1:
                        rep = pa.array(
                            np.repeat(np.arange(len(fa), dtype=np.int64), w)
                        )
                        fa = pc.take(fa, rep)
                        di = np.repeat(di, w)
                        if pf is not None:
                            pf = np.repeat(pf, w)
                    lengths = lengths + ln.astype(np.int64) * w
                    flats.append(fa.cast(pa.string()))
                    idxs.append(np.asarray(di, dtype=np.int64))
                    if pf is not None:
                        poss_l.append(pf)
                flat_arrow = (
                    pa.concat_arrays(flats) if len(flats) > 1 else flats[0]
                )
                doc_idx_arrow = (
                    np.concatenate(idxs) if idxs else np.zeros(0, np.int64)
                )
                pos_flat_np = (
                    (np.concatenate(poss_l) if poss_l
                     else np.zeros(0, np.int32))
                    if store_positions else None
                )

            if n_docs_b:
                # doc-length row: every doc in the batch, tokens or not.
                # docids ascend within the batch -> delta+varint like a
                # posting run; dls plain varint.
                one = np.array([0, n_docs_b], dtype=np.int64)
                d_buf, d_offs = varint_encode_runs(
                    delta_encode_runs(doc_ids, np.zeros(1, dtype=np.int64)),
                    one,
                )
                l_buf, l_offs = varint_encode_runs(
                    lengths.astype(np.int64), one
                )
                dl_cols = [
                    pa.array([DL_BUCKET], type=pa.int32()),
                    pa.array([""], type=pa.string()),
                    pa.array([0], type=pa.int32()),
                    pa.array([n_docs_b], type=pa.int32()),
                    pa.array([0], type=pa.int64()),
                    pa.array([0], type=pa.int32()),
                    _binary_runs(d_buf, d_offs),
                    _binary_runs(l_buf, l_offs),
                    _binary_runs(b"", np.zeros(2, dtype=np.int64)),
                ]
                if store_positions:
                    dl_cols.append(
                        _binary_runs(b"", np.zeros(2, dtype=np.int64))
                    )
                yield pa.RecordBatch.from_arrays(dl_cols, schema=out_schema)

            if len(flat_arrow) == 0:
                continue
            # C++ hash interning — the no-Python-strings analogue of
            # pd.factorize; dictionary strings only materialize once per
            # distinct term per batch
            denc = pc.dictionary_encode(flat_arrow)
            n_uniq = len(denc.dictionary)
            uniq_arr = np.asarray(denc.dictionary.to_pylist(), dtype=object)
            # (term, doc) grouping key, term-major then docid asc.
            # 4-byte keys whenever the key space fits int32: extract is
            # DRAM-bandwidth-bound at high parallelism (SCALE.md, 8->32
            # analysis) and the token-level sort below is its dominant
            # pass — halving key bytes halves that traffic.
            kdt = np.int32 if n_uniq * n_docs_b < 2**31 else np.int64
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                kdt, copy=False
            )
            key = codes * kdt(n_docs_b) + doc_idx_arrow.astype(kdt, copy=False)
            if store_positions:
                # positions are emitted ascending within each (doc, field)
                # token run, and the fid<<16 packing keeps later fields
                # larger, so a STABLE sort on the (term, doc) key alone
                # leaves positions ascending within every group — one sort
                # pass instead of lexsort's two (property-tested against
                # the per-doc tokenizer). key_sorted is already sorted, so
                # groups come from boundary detection, not np.unique
                # (which would sort the token stream a second time).
                order = np.argsort(key, kind="stable")
                key_sorted = key[order]
                kb = np.flatnonzero(key_sorted[1:] != key_sorted[:-1]) + 1
                kstarts = np.concatenate(([0], kb))
                uniq_keys = key_sorted[kstarts]
                tf = np.diff(np.concatenate((kstarts, [len(key_sorted)])))
                pos_sorted = pos_flat_np[order]
            else:
                uniq_keys, tf = np.unique(key, return_counts=True)
                pos_sorted = None

            row_code = uniq_keys // kdt(n_docs_b)  # stays kdt-width
            row_doc_idx = uniq_keys % kdt(n_docs_b)
            row_docid = doc_ids[row_doc_idx]
            row_dl = lengths[row_doc_idx].astype(np.int32)
            row_shard = (row_docid % num_shards).astype(np.int32)

            # group posting rows by (term, shard); stable keeps docid order.
            # Same 4-byte-key diet as the token sort above: this is the
            # posting-level sort pass, and (n_uniq * num_shards) almost
            # always fits int32.
            gdt = np.int32 if int(n_uniq) * num_shards < 2**31 else np.int64
            gkey = (
                row_code.astype(gdt, copy=False) * gdt(num_shards)
                + row_shard.astype(gdt, copy=False)
            )
            order2 = np.argsort(gkey, kind="stable")
            g_sorted = gkey[order2]
            bounds = np.flatnonzero(g_sorted[1:] != g_sorted[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(g_sorted)]))
            counts = ends - starts
            docid_s = row_docid[order2]
            tf_s = tf[order2].astype(np.int32)
            dl_s = row_dl[order2]

            bucket_u = np.fromiter(
                (zlib.crc32(t.encode("utf-8")) % num_buckets for t in uniq_arr),
                dtype=np.int32,
                count=len(uniq_arr),
            )
            g_code = (g_sorted[starts] // num_shards).astype(np.int64)
            g_shard = (g_sorted[starts] % num_shards).astype(np.int32)

            # per-run value offsets into the flat posting arrays
            run_offs = np.concatenate((starts, [len(g_sorted)])).astype(np.int64)
            # posting payload blobs: ONE vectorized varint pass per stream,
            # cut at run boundaries (see TERM_DOC_SCHEMA rationale)
            d_buf, d_boffs = varint_encode_runs(
                delta_encode_runs(docid_s, starts), run_offs
            )
            # dtype-native varint (uint32 view of the int32 arrays): no
            # widening copies — the 8->32 pair is DRAM-bandwidth-bound, so
            # every 8-byte temporary here is measured wall time
            t_buf, t_boffs = varint_encode_runs(tf_s, run_offs)
            l_buf, l_boffs = varint_encode_runs(dl_s, run_offs)
            run_cf = np.add.reduceat(tf_s, starts, dtype=np.int64)
            run_max_tf = np.maximum.reduceat(tf_s, starts).astype(np.int32)
            cols = [
                pa.array(bucket_u[g_code], type=pa.int32()),
                pa.array(uniq_arr[g_code], type=pa.string()),
                pa.array(g_shard, type=pa.int32()),
                pa.array(counts.astype(np.int32), type=pa.int32()),
                pa.array(run_cf, type=pa.int64()),
                pa.array(run_max_tf, type=pa.int32()),
                _binary_runs(d_buf, d_boffs),
                _binary_runs(t_buf, t_boffs),
                _binary_runs(l_buf, l_boffs),
            ]
            if store_positions:
                # flat positions gathered into group order: posting j's run
                # starts at orig_starts[order2][j], length tf_s[j]. Token
                # counts per batch fit int32 comfortably — 4-byte gather
                # temporaries (same bandwidth rationale as the key sort).
                orig_starts = np.concatenate(
                    ([0], np.cumsum(tf, dtype=np.int64))
                )[:-1].astype(np.int32)
                starts_o = orig_starts[order2]
                tf_s64 = tf_s.astype(np.int64)
                tot = int(tf_s64.sum())
                excl64 = np.concatenate(([0], np.cumsum(tf_s64)))
                excl = excl64[:-1].astype(np.int32)
                # gather index = arange + repeat(run_start - run_excl_cum):
                # ONE tot-sized repeat temporary instead of two
                gidx = np.arange(tot, dtype=np.int32) + np.repeat(
                    starts_o - excl, tf_s
                )
                pos_group_flat = pos_sorted[gidx]  # int32, native width
                # per-POSTING delta (first position absolute), varint cut at
                # RUN boundaries in token space (runs are contiguous)
                p_deltas = delta_encode_runs(pos_group_flat, excl64[:-1])
                p_buf, p_boffs = varint_encode_runs(p_deltas, excl64[run_offs])
                cols.append(_binary_runs(p_buf, p_boffs))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return extract


def _postings_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("bucket", pa.int32()),
            pa.field("term", pa.string()),
            pa.field("shard", pa.int32()),
            pa.field("n_docs", pa.int32()),
            pa.field("docs", pa.binary()),
            pa.field("tfs", pa.binary()),
            pa.field("dls", pa.binary()),
            pa.field("poss", pa.binary()),
            pa.field(
                "block_meta",
                pa.list_(
                    pa.struct(
                        [
                            ("first_docid", pa.int64()),
                            ("max_docid", pa.int64()),
                            ("max_impact", pa.float64()),
                            ("doc_off", pa.int64()),
                            ("tf_off", pa.int64()),
                            ("dl_off", pa.int64()),
                            ("pos_off", pa.int64()),
                        ]
                    )
                ),
            ),
        ]
    )


def make_encode_fn(config: IndexConfig, avgdl: float, lineage_dir: str | None = None):
    """applyInArrow encoder for one shard group -> one segment row per term.

    ``lineage_dir``: when set, every encode task appends one JSON record
    (stage/partition/attempt ids, shard, segments merged, postings emitted,
    bytes compressed) to that directory — per-task lineage for the build,
    named by attempt id so speculative/retried attempts stay distinguishable.
    The per-bucket checkpoint manifest remains the commit truth; these
    records are the task-level audit trail beneath it.

    Grouping by shard (not (term, shard)) keeps the number of groups at
    num_buckets * num_shards — coarse enough that per-group UDF overhead
    is negligible, fine enough that every core stays busy. Rows arrive as
    (term, shard) array runs, one per extract task; per term the runs are
    concatenated and merged with one stable argsort by docid — the grenad
    k-way merge (reference P9, ``helpers/grenad_helpers.rs:34-57``) done by
    numpy. Arrow-native I/O: list columns are decomposed to offsets+values
    (no per-cell boxing), and memory per group = total postings /
    (num_buckets * num_shards) — the scale knob.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    block_size = config.block_size
    store_positions = config.store_positions
    k1, b = config.k1, config.b
    num_buckets = config.num_buckets
    out_schema = _postings_arrow_schema()

    def _blob_flat(tbl, name) -> "np.ndarray":
        """Concatenated value bytes of a (never-null) binary column, in row
        order, as uint8 — zero-copy from the Arrow buffers. Varint streams
        are self-delimiting, so decoding the concatenation decodes every
        row's run in order."""
        arr = tbl.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        offs_buf = np.frombuffer(arr.buffers()[1], dtype=np.int32)
        data_buf = arr.buffers()[2]
        data = (
            np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.zeros(0, np.uint8)
        )
        start = int(offs_buf[arr.offset])
        end = int(offs_buf[arr.offset + len(arr)])
        return data[start:end]

    def encode(tbl: "pa.Table") -> "pa.Table":
        if tbl.num_rows == 0:
            return out_schema.empty_table()
        # dictionary-encode the term column in Arrow (C speed) instead of
        # sorting 10^6 Python strings: row rank = index into the unique
        # dictionary, remapped through the sorted dictionary order
        tcol = tbl.column("term")
        if isinstance(tcol, pa.ChunkedArray):
            tcol = tcol.combine_chunks()
        dct = tcol.dictionary_encode()
        dict_terms = np.asarray(dct.dictionary.to_pylist(), dtype=object)
        dict_order = np.argsort(dict_terms, kind="stable")
        rank_of_dict = np.empty(len(dict_terms), dtype=np.int64)
        rank_of_dict[dict_order] = np.arange(len(dict_terms), dtype=np.int64)
        rank_row = rank_of_dict[dct.indices.to_numpy(zero_copy_only=False)]
        uniq_terms = dict_terms[dict_order]
        # per-row value offsets: n postings per run
        n_row = (
            tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        d_off = np.zeros(len(n_row) + 1, dtype=np.int64)
        np.cumsum(n_row, out=d_off[1:])
        # ONE vectorized varint decode per stream over the whole group,
        # then a segmented delta decode for docids (runs = rows)
        d_val = delta_decode_runs(
            varint_decode(
                _blob_flat(tbl, "docs"), int(d_off[-1]), dtype=np.int64
            ),
            d_off[:-1],
        )
        # tf/dl/positions fit uint32 (tf<=dl<=2^31 tokens, positions are
        # fid<<16|pos int32 packs): decode at half width and stay there —
        # the sort gathers and the batch encode below then move 4-byte
        # lanes end-to-end (the 8->32 DRAM-bandwidth diet)
        t_val = varint_decode(
            _blob_flat(tbl, "tfs"), int(d_off[-1]), dtype=np.uint32
        )
        l_val = varint_decode(
            _blob_flat(tbl, "dls"), int(d_off[-1]), dtype=np.uint32
        )
        if store_positions:
            i_lens = t_val  # positions per posting == tf (codec invariant)
            i_off = np.zeros(len(i_lens) + 1, dtype=np.int64)
            np.cumsum(i_lens, out=i_off[1:])
            i_val = delta_decode_runs(
                varint_decode(
                    _blob_flat(tbl, "poss"), int(i_off[-1]), dtype=np.int64
                ),
                i_off[:-1],
            ).astype(np.uint32)
        shard = int(tbl.column("shard")[0].as_py())

        # ONE global (term rank, docid) sort over all values replaces the
        # per-term concatenate + argsort loop: term segments become
        # contiguous ascending-docid slices, and the whole group encodes in
        # one batched pass (encode_postings_batch) — no per-term Python.
        rank_val = np.repeat(rank_row, n_row)
        if len(uniq_terms) < (1 << 22) and (
            not len(d_val) or int(d_val.max()) < (1 << 40)
        ):
            # single-key argsort on rank<<40|docid (covers 4M-term vocab
            # per group x 10^12 docids); falls back to lexsort beyond.
            # Build the key in place of rank_val and free it immediately —
            # this kernel handles whole-group flat arrays, so transient
            # copies directly set the task's peak RSS.
            key = (rank_val << 40) | d_val
            perm = np.argsort(key, kind="stable")
            del key
        else:
            perm = np.lexsort((d_val, rank_val))
        docids = d_val[perm]
        tfs = t_val[perm]
        dls = l_val[perm]
        rank_sorted = rank_val[perm]
        del d_val, t_val, l_val, rank_val
        term_starts = np.flatnonzero(
            np.r_[True, rank_sorted[1:] != rank_sorted[:-1]]
        )
        del rank_sorted
        if store_positions:
            # permute posting-level lens, gather token values via the
            # standard offsets expansion (one pass, no per-posting objects)
            pstarts = i_off[:-1]
            plens = i_lens[perm]
            excl = np.zeros(len(plens) + 1, dtype=np.int64)
            np.cumsum(plens, out=excl[1:])
            gidx = np.arange(int(excl[-1]), dtype=np.int64) + np.repeat(
                pstarts[perm] - excl[:-1], plens
            )
            pos_flat_all = i_val[gidx]
            pos_excl = excl
            del gidx, i_val
        else:
            pos_flat_all = pos_excl = plens = None
        del perm

        # Encode in TERM-RANGE CHUNKS (~CHUNK_POSTINGS postings each): the
        # batch encoder's transient arrays are proportional to its input,
        # and num_shards whole-group tasks at once (each up to several GB
        # at 10^8-posting groups) put the WORKER FLEET's peak RSS into
        # page-cache-thrash territory at high thread counts — measured at
        # 4M docs / local[32]. Chunking bounds the transient to ~200 MB
        # per task with negligible extra Python (a few calls per chunk).
        CHUNK_POSTINGS = 8_000_000
        n_terms = len(uniq_terms)
        chunk_bounds = [0]
        for ti in range(1, n_terms + 1):
            start_post = term_starts[ti] if ti < n_terms else len(docids)
            if start_post - term_starts[chunk_bounds[-1]] >= CHUNK_POSTINGS                     or ti == n_terms:
                chunk_bounds.append(ti)
        encs = []
        for ci in range(len(chunk_bounds) - 1):
            t0, t1 = chunk_bounds[ci], chunk_bounds[ci + 1]
            p0 = int(term_starts[t0])
            p1 = int(term_starts[t1]) if t1 < n_terms else len(docids)
            if store_positions:
                positions = (
                    pos_flat_all[pos_excl[p0]:pos_excl[p1]],
                    plens[p0:p1],
                )
            else:
                positions = None
            encs.append(encode_postings_batch(
                docids[p0:p1], tfs[p0:p1], dls[p0:p1], positions,
                term_starts[t0:t1] - p0,
                block_size=block_size, avgdl=avgdl, k1=k1, b=b,
            ))

        def cat(key, dtype=None):
            arrs = [e[key] for e in encs]
            if isinstance(arrs[0], np.ndarray):
                return np.concatenate(arrs)
            return [x for a in arrs for x in a]

        block_offsets = encs[0]["block_offsets"]
        for e in encs[1:]:
            block_offsets = np.concatenate(
                (block_offsets, e["block_offsets"][1:] + block_offsets[-1])
            )
        buckets = [zlib.crc32(t.encode()) % num_buckets for t in uniq_terms]
        bm_type = out_schema.field("block_meta").type
        struct_t = bm_type.value_type
        bm_values = pa.StructArray.from_arrays(
            [
                pa.array(cat("first_docid"), type=pa.int64()),
                pa.array(cat("max_docid"), type=pa.int64()),
                pa.array(cat("max_impact"), type=pa.float64()),
                pa.array(cat("doc_off"), type=pa.int64()),
                pa.array(cat("tf_off"), type=pa.int64()),
                pa.array(cat("dl_off"), type=pa.int64()),
                pa.array(cat("pos_off"), type=pa.int64()),
            ],
            fields=list(struct_t),
        )
        bm = pa.ListArray.from_arrays(
            pa.array(block_offsets, type=pa.int32()), bm_values
        ).cast(bm_type)
        return pa.Table.from_arrays(
            [
                pa.array(buckets, type=pa.int32()),
                pa.array(uniq_terms, type=pa.string()),
                pa.array([shard] * n_terms, type=pa.int32()),
                pa.array(cat("n_docs"), type=pa.int32()),
                pa.array(cat("docs"), type=pa.binary()),
                pa.array(cat("tfs"), type=pa.binary()),
                pa.array(cat("dls"), type=pa.binary()),
                pa.array(cat("poss"), type=pa.binary()),
                bm,
            ],
            schema=out_schema,
        )

    if lineage_dir is None:
        return encode

    def encode_with_lineage(tbl: "pa.Table") -> "pa.Table":
        out = encode(tbl)
        if tbl.num_rows == 0:
            return out
        import json

        from pyspark import TaskContext

        tc = TaskContext.get()
        shard = int(tbl.column("shard")[0].as_py())
        n_bytes = 0
        for name in ("docs", "tfs", "dls", "poss"):
            s = pc.sum(pc.binary_length(out.column(name))).as_py()
            n_bytes += int(s or 0)
        rec = {
            "stage_id": tc.stageId() if tc else -1,
            "partition_id": tc.partitionId() if tc else -1,
            "task_attempt_id": tc.taskAttemptId() if tc else -1,
            "shard": shard,
            "input_rows": tbl.num_rows,
            "segments_merged": out.num_rows,
            "postings_emitted": int(
                pc.sum(out.column("n_docs")).as_py() or 0
            ),
            "bytes_compressed": int(n_bytes),
        }
        os.makedirs(lineage_dir, exist_ok=True)
        fn = (
            f"task-s{rec['stage_id']}-p{rec['partition_id']}"
            f"-a{rec['task_attempt_id']}-shard{shard}.json"
        )
        with open(os.path.join(lineage_dir, fn), "w") as f:
            f.write(json.dumps(rec) + "\n")
        return out

    return encode_with_lineage


class BuildError(RuntimeError):
    pass


def _input_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of a file-backed DataFrame, or None when unknowable
    (createDataFrame, non-file sources, remote stores without local stat)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        p = "/" + f[5:].lstrip("/")
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def _stage1_staging_dir(
    pages: DataFrame, config: IndexConfig, index_dir: str
) -> str | None:
    """Staging path for the stage-1 sorted run, or None (= cache pin).
    Stages to parquet when the input's on-disk size is unknown
    (non-file-backed — could be huge) or exceeds stage1_cache_max_bytes —
    the measured cache-pressure switch point (config.py) — and caches
    small file-backed inputs."""
    size = _input_bytes(pages)
    # unknown size (non-file-backed input) takes the safe parquet path:
    # it could be arbitrarily large and the persist path degrades ~1.7x
    # under storage-pool pressure (config.py switch-point note)
    if size is None or size > config.stage1_cache_max_bytes:
        return os.path.join(index_dir, "_staging_sorted_run")
    return None


def _write_docs_guard(fn, errs: list):
    try:
        fn()
    except BaseException as e:  # surfaced by the caller after join()
        errs.append(e)


def _stage1_partitions(
    spark: SparkSession, df: DataFrame, config: IndexConfig,
    target_bytes: int = 96 << 20,
) -> int:
    """Partition count for stage 1 (the range shuffle whose reduce side
    sorts/dedupes/writes the staging run, and the extract that consumes
    it). Two floors, take the max:

    * ``2 x cores`` — enough waves that the scheduler can pack;
    * ``input_bytes / 96 MB`` — task-size bound. This is the scaling fix:
      with only ``2 x cores`` coarse tasks, the LAST wave's straggler
      idles the other cores (measured at 4M docs/local[4]: the 8-task
      reduce side lost ~34 s to tail quantization, 0.61 efficiency; the
      byte floor cuts the tail quantum ~4x). It is also the 100-TB
      contract — reduce-task memory stays bounded by the byte target, not
      by corpus/cores. Sized so staging files stay under the 128 MB scan
      bin (no remainder fragmentation when extract re-reads them).

    ``config.extract_partitions`` overrides everything.
    """
    if config.extract_partitions:
        return config.extract_partitions
    n = max(spark.sparkContext.defaultParallelism * 2, 8)
    size = _input_bytes(df)
    if size is not None:
        n = max(n, int(size // target_bytes) + 1)
    return n


def _run_extract(
    spark: SparkSession, docs_text: DataFrame, paths: "IndexPaths",
    config: IndexConfig, *, repartition: bool,
) -> dict:
    """Tokenize (docid, text) -> committed term_doc gen=0 spill; returns
    the stage metrics. ``repartition=False`` when the input already has
    cluster-sized partitions (the fused stage-1 cache path)."""
    if repartition:
        n_extract = _stage1_partitions(spark, docs_text, config)
        docs_text = docs_text.repartition(n_extract)
    extracted = docs_text.mapInArrow(
        make_extract_fn(config), schema=term_doc_schema(config)
    )
    obs = Observation()
    extracted = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.when(F.col("bucket") != DL_BUCKET, F.col("n")).otherwise(0)
        ).alias("postings"),
    )
    os.makedirs(paths.term_doc, exist_ok=True)
    staging, commit = staged_write(paths.gen_dir(paths.term_doc, 0))
    extracted.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    commit()
    got = obs.get
    return {
        "n_term_doc_rows": int(got["rows"]),
        "n_postings": int(got["postings"] or 0),
    }


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork + import-warm one Python UDF worker per core (see build_index)."""
    n = spark.sparkContext.defaultParallelism

    def _warm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"x": pd.Series([len(pdf)], dtype="int64")})

    (
        spark.range(0, n, 1, n)
        .withColumnRenamed("id", "x")
        .mapInPandas(_warm, "x long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    *,
    settings: "IndexSettings | None" = None,
    fail_after: str | None = None,
    build_id: str | None = None,
) -> dict:
    """Build (or resume) an index at ``index_dir``. Returns the meta dict.

    ``settings`` — per-index query-time settings (synonyms, matching
    strategy, typo thresholds …) persisted in meta.json; queries default
    from them (reference ``src/update/settings.rs``). Defaults to
    ``IndexSettings()``.

    ``fail_after='<stage>'`` injects a failure right after that stage commits
    (kill-and-resume test harness): any stage of ``STAGES`` but 'finalize',
    or ``'postings:bucket=<b>'`` for one postings bucket; another name
    raises ValueError. A resumed build skips every stage whose checkpoint
    manifest exists — per bucket for the postings stage.
    """
    config = config or IndexConfig()
    points = [*STAGES[:-1],
              *(f"postings:bucket={b}" for b in range(config.num_buckets))]
    if fail_after is not None and fail_after not in points:
        raise ValueError(
            f"fail_after must be one of {points}, got {fail_after!r}")
    paths = IndexPaths(index_dir)
    paths.ensure()
    build_id = build_id or uuid.uuid4().hex[:12]
    log = CheckpointLog(paths, build_id)
    metrics_rows: list[dict] = []

    def maybe_fail(stage: str):
        if fail_after == stage:
            raise BuildError(f"injected failure after stage {stage!r}")

    # Pre-warm the Arrow python-worker pool: one tiny mapInPandas job with
    # exactly one partition per core forces every worker to fork + import
    # pandas/numpy BEFORE the real stages. Without this, the first UDF stage
    # pays N concurrent cold-starts (imports contend on CPU and page cache),
    # which at high parallelism on short jobs erases the gain from added
    # cores. On a long cluster build this cost amortizes to noise; paying it
    # up front in one parallel wave makes every later stage scale-clean.
    _prewarm_python_workers(spark)

    # ---- stage 1: docs (dedupe + docid assignment) --------------------
    if not log.done("docs"):
        t0 = time.time()
        # sub-phase wall clocks, recorded in the docs checkpoint metrics —
        # the scaling profile (scripts/stage_profile.py) reads these to
        # attribute non-scaling time inside this composite stage
        sub_walls: dict[str, float] = {}
        # project before any shuffle: html & co. never enter the dedupe or
        # rank exchanges (at CC scale the raw html dominates row size)
        # searchable source columns: text_col aliased to canonical 'text'
        # for single-field indexes; multi-field (BM25F) keeps source names
        if config.field_cols:
            search_src = [(c, c) for c, _w in config.field_cols]
        else:
            search_src = [(config.text_col, "text")]
        keep = list(dict.fromkeys(
            [config.pk_col, *[c for c, _ in search_src], *config.attr_cols]
        ))
        for extra in (config.ts_col, config.docid_col):
            if extra and extra not in keep:
                keep.append(extra)
        n_docs = None
        sorted_run_dir = None
        snap_names = {dst for _, dst in search_src}
        out_cols = [(config.pk_col, "pk"), *search_src] + [
            (c, c) for c in config.attr_cols if c not in snap_names
        ]
        docid_col_pinned = False
        if config.docid_col:
            deduped = _dedupe_last_write_wins(
                pages.select(*keep), config.pk_col, config.ts_col
            )
            docs = deduped.withColumn(
                "docid", F.col(config.docid_col).cast("long")
            ).select(
                "docid", F.col(config.pk_col).alias("pk"),
                *[F.col(src).alias(dst) for src, dst in search_src],
                *[F.col(c) for c in config.attr_cols if c not in snap_names],
            )
            # Fusing the docs write with extract is only safe when both
            # jobs see the SAME dedupe outcome (duplicate-pk winners are
            # nondeterministic on recompute). Small inputs: pin the deduped
            # frame in cache and fork both jobs over it (eviction is
            # implausible under the stage1_cache_max_bytes threshold on
            # this heap, and recompute-divergence needs duplicate pks AND
            # a tie). Large inputs — where eviction IS plausible — keep
            # the unfused order: write docs, extract from the committed
            # parquet (the staging-parquet pattern with zero extra writes).
            if _stage1_staging_dir(pages, config, index_dir) is None:
                # Coalesce the pin to byte-sized partitions (~64 MB): the
                # fused term_doc write is partitionBy(bucket), whose file
                # count (and commit cost) is tasks x buckets, so at this
                # (size-gated) small scale fewer partitions beat raw
                # parallelism — measured 0.7s vs 2.6s for the same write
                # at 5k docs. Bytes-aware so a near-threshold input still
                # tokenizes in parallel.
                n_extract = _stage1_partitions(spark, pages, config)
                size = _input_bytes(pages) or 0
                n_pin = max(1, min(n_extract, int(size // (64 << 20)) + 1))
                docs = docs.coalesce(n_pin).persist()
                # materialize BEFORE forking the two jobs — otherwise they
                # race to build the cache and each recomputes the dedupe
                docs.count()
                docid_col_pinned = True
        else:
            n_parts = _stage1_partitions(spark, pages, config)
            sorted_run_dir = _stage1_staging_dir(pages, config, index_dir)
            t_sub = time.time()
            docs, n_docs = dedupe_and_rank(
                pages.select(*keep), config.pk_col, config.ts_col,
                out_cols, n_parts, staging_dir=sorted_run_dir,
                walls=sub_walls,
            )
            sub_walls["dedupe_rank"] = round(time.time() - t_sub, 2)
        # `gen` marks which segment generation a docs/doc_stats row belongs
        # to (0 at build; appends stamp their own) — tombstones carry a
        # generation HORIZON (dead in gens < horizon), which is what lets
        # externally-managed docids (docid_col) be replaced in place.
        docs = docs.withColumn("gen", F.lit(0).cast("int"))
        obs = Observation()
        docs = docs.observe(obs, F.count(F.lit(1)).alias("rows"),
                            F.max("docid").alias("max_docid"))
        staging, commit = staged_write(paths.docs)

        # Overlap the docs-snapshot write (pure I/O) with the extract
        # tokenization (pure compute) when extract still has to run: both
        # jobs read the same cached sorted run, and the Spark scheduler
        # interleaves their tasks. Extract consumes `docs` directly —
        # skipping the parquet round-trip AND the repartition shuffle (the
        # cache is already n_parts range partitions sized to the cluster).
        # Fusion is ONLY safe over a pinned frame: the pinned cache built
        # by dedupe_and_rank (docid_col is None), or the persisted deduped
        # frame in the small-input docid_col branch above. Without a pin
        # the two forked jobs would independently recompute
        # _dedupe_last_write_wins (nondeterministic for duplicate pks) and
        # the committed docs snapshot could disagree with the postings on
        # which duplicate won. Unpinned large-input docid_col builds write
        # docs first and extract from the committed parquet.
        run_extract_fused = (
            not log.done("extract") and fail_after != "docs"
            and (config.docid_col is None or docid_col_pinned)
        )

        def _write_docs():
            tw = time.time()
            docs.write.mode("overwrite").parquet(staging)
            sub_walls["write_docs"] = round(time.time() - tw, 2)

        docs_err: list[BaseException] = []
        t_sub = time.time()
        if run_extract_fused:
            th = threading.Thread(
                target=lambda: (_write_docs_guard(_write_docs, docs_err))
            )
            th.start()
            ex_t0 = time.time()
            ex_metrics = _run_extract(
                spark, docs.select("docid", *[c for c, _ in config.searchable_fields()]), paths, config,
                repartition=False,
            )
            sub_walls["extract_in_fuse"] = round(time.time() - ex_t0, 2)
            th.join()
        else:
            _write_docs()
        sub_walls["fused_phase"] = round(time.time() - t_sub, 2)
        if docs_err:
            raise docs_err[0]
        commit()
        t_sub = time.time()
        got = obs.get
        written = int(got["rows"])
        max_docid = int(got["max_docid"] if got["max_docid"] is not None else -1)
        if n_docs is not None and (written != n_docs or max_docid != n_docs - 1):
            raise BuildError(
                f"docs stage integrity check failed: wrote {written} rows, "
                f"max_docid={max_docid}, expected n_docs={n_docs} — the "
                "cached sorted run was likely evicted and resampled; re-run"
            )
        if n_docs is not None:
            # count+max alone is NOT airtight: a cache-evicted/resampled run
            # whose per-partition counts shift (e.g. [2,2,2] -> [3,1,2])
            # yields duplicate docids plus a gap with the total count and
            # max unchanged. n distinct non-negative values with
            # max == n-1 and count == n IS exactly {0..n-1}, so verify
            # distinctness against the COMMITTED parquet (column-pruned
            # scan of the docid column — one cheap extra job).
            n_distinct = (
                spark.read.parquet(paths.docs)
                .agg(F.count_distinct("docid").alias("d")).collect()[0]["d"]
            )
            if n_distinct != n_docs:
                raise BuildError(
                    f"docs stage integrity check failed: {n_distinct} distinct "
                    f"docids for {n_docs} rows — duplicate docids from a "
                    "resampled cache; re-run the build"
                )
        sub_walls["integrity"] = round(time.time() - t_sub, 2)
        n_docs = written
        log.commit("docs", inputs={"source": "caller DataFrame"},
                   metrics={"n_docs": n_docs, "max_docid": max_docid,
                            "sub_walls": sub_walls},
                   wall_s=time.time() - t0)
        spark.catalog.clearCache()
        if sorted_run_dir is not None:
            import shutil as _shutil

            _shutil.rmtree(sorted_run_dir, ignore_errors=True)
        if run_extract_fused:
            # extract committed strictly AFTER docs: a crash between the
            # two leaves docs committed + extract pending, and the resume
            # path below re-runs extract from the committed docs parquet
            log.commit("extract", inputs={"docs": n_docs},
                       metrics=ex_metrics, wall_s=time.time() - ex_t0)
    maybe_fail("docs")
    n_docs = log.read("docs")["metrics"]["n_docs"]

    docs_df = spark.read.parquet(paths.docs)

    # ---- stage 2: extract (tokenize -> term_doc spill) -----------------
    # (fused into stage 1 on a clean build; this standalone path serves
    # resume-after-docs and the docid_col variant)
    if not log.done("extract"):
        t0 = time.time()
        # Partition count must track cores, NOT the input file layout: the
        # docs snapshot is many small files that FileScan coalesces into a
        # handful of 128MB-target partitions, which would cap tokenization
        # at that parallelism no matter the cluster size.
        ex_metrics = _run_extract(
            spark, docs_df.select("docid", *[c for c, _ in config.searchable_fields()]), paths, config,
            repartition=True,
        )
        log.commit("extract", inputs={"docs": n_docs},
                   metrics=ex_metrics, wall_s=time.time() - t0)
    maybe_fail("extract")

    term_doc = spark.read.parquet(paths.term_doc)

    # ---- stage 3: doc_stats + scalars ----------------------------------
    if not log.done("doc_stats"):
        t0 = time.time()
        dl_df = doc_lengths(term_doc)
        stats = (
            docs_df.select("docid", "pk", *config.attr_cols)
            .join(dl_df, "docid", "left")
            .withColumn("dl", F.coalesce(F.col("dl"), F.lit(0)).cast("int"))
            .withColumn("gen", F.lit(0).cast("int"))
        )
        obs = Observation()
        stats = stats.observe(obs, F.count(F.lit(1)).alias("rows"),
                              F.sum("dl").alias("dl"))
        staging, commit = staged_write(paths.doc_stats)
        stats.write.mode("overwrite").parquet(staging)
        commit()
        got = obs.get
        rows, total_dl = int(got["rows"]), int(got["dl"] or 0)
        avgdl = total_dl / rows if rows else 0.0
        log.commit("doc_stats", inputs={"docs": n_docs},
                   metrics={"n_docs": rows, "total_dl": total_dl,
                            "avgdl": avgdl},
                   wall_s=time.time() - t0)
    maybe_fail("doc_stats")
    ds_meta = log.read("doc_stats")["metrics"]
    avgdl = ds_meta["avgdl"]

    # ---- stage 4: terms dictionary --------------------------------------
    if not log.done("terms"):
        t0 = time.time()
        obs = Observation()
        terms = terms_agg(term_doc).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        os.makedirs(paths.terms, exist_ok=True)
        staging, commit = staged_write(paths.gen_dir(paths.terms, 0))
        terms.write.mode("overwrite").parquet(staging)
        commit()
        log.commit("terms", inputs={"term_doc": "extract"},
                   metrics={"n_terms": int(obs.get["rows"])},
                   wall_s=time.time() - t0)
    maybe_fail("terms")

    # ---- stage 5: postings segments, per bucket --------------------------
    # Buckets are independent jobs with independent staging dirs + manifests
    # (per-partition checkpoint granularity: a killed build re-runs only the
    # buckets without a manifest). They are SUBMITTED concurrently — Spark's
    # scheduler interleaves their tasks, so stragglers in one bucket don't
    # serialize the others and wall time ~ max(bucket) not sum(bucket).
    encode_fn = make_encode_fn(
        config, avgdl,
        lineage_dir=os.path.join(paths.metrics, f"tasks-{build_id}"),
    )
    os.makedirs(paths.gen_dir(paths.postings, 0), exist_ok=True)
    # Term-salt factor for the encode groups (see IndexConfig):
    # sized so one group ~ encode_group_postings postings. A term's whole
    # (term, shard) posting list stays inside one group (salt is a pure
    # term hash), so segments are byte-identical to the unsalted build.
    n_postings_total = int(
        log.read("extract")["metrics"].get("n_postings") or 0
    )
    enc_salt = max(1, min(64, -(
        -n_postings_total
        // (config.num_buckets * config.num_shards
            * config.encode_group_postings)
    )))

    def run_bucket(b: int) -> None:
        stage = f"postings:bucket={b}"
        if log.done(stage):
            return
        t0 = time.time()
        td_b = term_doc.filter(F.col("bucket") == b)
        if enc_salt > 1:
            # explicit repartition on the grouping keys: Catalyst reuses
            # the HashPartitioning for the groupBy (ONE shuffle), and 2x
            # partitions-per-key keeps hash-collision stacking ~1 group
            td_b = td_b.withColumn(
                "tsalt",
                F.pmod(F.xxhash64("term"), F.lit(enc_salt)).cast("int"),
            ).repartition(config.num_shards * enc_salt * 2, "shard", "tsalt")
            seg = td_b.groupBy("shard", "tsalt").applyInArrow(
                encode_fn, schema=POSTINGS_SCHEMA
            )
        else:
            seg = td_b.groupBy("shard").applyInArrow(
                encode_fn, schema=POSTINGS_SCHEMA
            )
        obs = Observation()
        seg = seg.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_docs").alias("n_docs"),
            F.sum(
                F.length("docs") + F.length("tfs") + F.length("dls")
                + F.coalesce(F.length("poss"), F.lit(0))
            ).alias("bytes"),
        )
        bucket_dir = os.path.join(paths.gen_dir(paths.postings, 0), f"bucket={b}")
        staging, commit = staged_write(bucket_dir)
        seg.drop("bucket").write.mode("overwrite").parquet(staging)
        commit()
        got = obs.get
        metrics = {
            "segments_merged": int(got["rows"]),
            "postings_emitted": int(got["n_docs"] or 0),
            "bytes_compressed": int(got["bytes"] or 0),
        }
        with metrics_lock:
            metrics_rows.append({"stage": stage, "build_id": build_id, **metrics})
        log.commit(stage, inputs={"term_doc_bucket": b, "avgdl": avgdl},
                   metrics=metrics, wall_s=time.time() - t0)
        maybe_fail(stage)

    metrics_lock = threading.Lock()
    with ThreadPoolExecutor(max_workers=config.num_buckets) as pool:
        futures = [pool.submit(run_bucket, b) for b in range(config.num_buckets)]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e
    maybe_fail("postings")

    # ---- stage 6: finalize ----------------------------------------------
    scalars = {
        "n_docs": int(ds_meta["n_docs"]),
        "avgdl": float(avgdl),
        "total_dl": int(ds_meta["total_dl"]),
        "n_terms": int(log.read("terms")["metrics"]["n_terms"]),
        "build_id": build_id,
        "max_docid": int(log.read("docs")["metrics"].get("max_docid", -1)),
        "n_deleted": 0,
        # per-generation avgdl used at encode time: query-side WAND scales
        # block-max bounds by max(1, query_avgdl / encode_avgdl) so pruning
        # stays admissible after appends shift the live avgdl
        "generations": {"0": {"avgdl": float(avgdl), "n_docs": int(ds_meta["n_docs"])}},
        "settings": (settings or IndexSettings()).to_dict(),
    }
    write_meta(paths, config, scalars)
    if metrics_rows:
        import json

        with open(os.path.join(paths.metrics, f"build-{build_id}.jsonl"), "a") as f:
            for r in metrics_rows:
                f.write(json.dumps(r) + "\n")
    if not log.done("finalize"):
        log.commit("finalize", inputs={"stages": "all"}, metrics=scalars, wall_s=0.0)
    return read_meta(paths)
