"""Incremental index maintenance: upserts, deletes, compaction.

The reference applies updates in place inside one LMDB write transaction —
every extracted key carries a Deletion/Addition side and bitmaps are merged
(``/root/reference/src/update/del_add.rs:1-125``,
``transform.rs:150-452``). A distributed rebuild wants immutable files, so
this module re-expresses the same semantics Lucene-style:

* ``add_documents``  — ``ReplaceDocuments`` upsert (reference
  ``transform.rs:107-110``): last-write-wins within the batch, existing
  docs with the same pk are tombstoned, the batch becomes a NEW segment
  generation (``gen=N`` under terms/postings). Nothing existing is
  rewritten; the batch's extraction spill is removed once its postings
  commit.
* ``delete_documents`` — tombstone by external id (reference
  ``Transform::remove_documents``, ``transform.rs:363-452``).
* ``compact``        — segment merge: rebuilds a single ``gen=0`` from the
  postings it merges (every generation decoded, dead postings dropped, the
  live ones re-encoded by the build's encoder at the fresh global avgdl —
  no re-tokenization), recomputes doc stats / dictionary, clears
  tombstones. Every store is staged before any live one is swapped.

Query-time consequences (see ``query.py``):
* docids are disjoint across generations, so per-shard scoring just sees
  extra segment rows per term;
* tombstoned docids are filtered in the scorer;
* df (hence idf) still counts tombstoned docs until compaction — the same
  documented staleness Lucene accepts;
* block-max bounds from older generations are scaled by
  ``max(1, avgdl_now / avgdl_encode)`` so WAND pruning stays admissible.

Scale notes: each append shuffles ONLY the new batch (extract + one
postings job); tombstones append a docid list. Compaction is the only
full-data rewrite: a map-side decode of the postings plus the
shuffle+encode of live postings — no tokenization pass.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from search_engine_spark.build import (
    DL_BUCKET,
    POSTINGS_SCHEMA,
    _binary_runs,
    _blob_flat,
    _dedupe_last_write_wins,
    _extract_arrow_schema,
    assign_docids,
    doc_lengths,
    make_encode_fn,
    make_extract_fn,
    term_doc_schema,
    terms_agg,
)
from search_engine_spark.codecs import (
    delta_decode_runs,
    delta_encode_runs,
    varint_decode,
    varint_encode_runs,
)
from search_engine_spark.config import (
    EXTRACTION_AFFECTING,
    IndexConfig,
    IndexSettings,
)
from search_engine_spark.index import (
    IndexPaths,
    read_meta,
    staged_write,
    write_meta,
)


# Horizon meaning "dead in every generation, forever". Used whenever the
# tombstoned docid can never recur in a future generation — which is ALWAYS
# the case for rank-assigned docids (new rows continue after max_docid).
# Keeping such tombstones at the dead-everywhere horizon matters for
# serving: _load_tombstones classifies horizon > max_gen as a FULL
# tombstone (flat fast path, WAND/MaxScore stay on); any horizon <= max_gen
# is "partial" and forces the exhaustive scorer until compact().
DEAD_HORIZON = (1 << 31) - 1


def _read_with_gen(spark: SparkSession, path: str) -> DataFrame:
    """Read docs / doc_stats / postings with the ``gen`` column guaranteed:
    indexes written before generations existed read as gen 0 — the same
    fallback the query path applies — so mutations work on pre-generation
    indexes instead of raising on the missing column.

    Mixed dirs (legacy gen-less files + appended gen-ful files) need two
    cares: if schema inference picked a legacy file the plain read has no
    ``gen`` at all (re-read with mergeSchema — a per-file-footer driver
    cost, paid only on legacy dirs); and rows from legacy files read
    ``gen`` as NULL (coalesced to 0: pre-generation rows ARE gen 0)."""
    df = spark.read.parquet(path)
    if "gen" not in df.columns:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    if "gen" in df.columns:
        return df.withColumn(
            "gen", F.coalesce(F.col("gen"), F.lit(0)).cast("int")
        )
    return df.withColumn("gen", F.lit(0).cast("int"))


def _load(spark: SparkSession, index_dir: str):
    paths = IndexPaths(index_dir)
    meta = read_meta(paths)
    return paths, meta, IndexConfig.from_dict(meta["config"])


def _next_gen(meta: dict) -> int:
    return max(int(g) for g in meta["generations"]) + 1


def add_documents(
    spark: SparkSession, index_dir: str, new_pages: DataFrame
) -> dict:
    """Upsert a batch (ReplaceDocuments semantics). Returns updated meta."""
    paths, meta, config = _load(spark, index_dir)
    gen = _next_gen(meta)

    search_cols = (
        [c for c, _w in config.field_cols] if config.field_cols
        else [config.text_col]
    )
    keep = list(dict.fromkeys(
        [config.pk_col, *search_cols, *config.attr_cols]
    ))
    # ts is only used for within-batch LWW ordering; merged batches from
    # update_documents don't carry it (falls back to dropDuplicates)
    has_ts = bool(config.ts_col) and config.ts_col in new_pages.columns
    if has_ts and config.ts_col not in keep:
        keep.append(config.ts_col)
    if config.docid_col and config.docid_col not in keep:
        keep.append(config.docid_col)
    batch = _dedupe_last_write_wins(
        new_pages.select(*keep), config.pk_col,
        config.ts_col if has_ts else None,
    )

    # tombstone existing docids whose pk is being replaced
    batch_pks = batch.select(F.col(config.pk_col).alias("pk"))
    existing = spark.read.parquet(paths.doc_stats).select("docid", "pk")
    tomb = existing.join(batch_pks, "pk").select("docid")
    # docid_col: horizon = this new generation — the replaced docids' OLDER
    # versions die (gens < gen) while the versions this batch writes into
    # gen stay live, which is exactly what lets externally-managed docids be
    # replaced in place, reusing the same docid across generations.
    # Rank-assigned docids can never recur, so stamp dead-everywhere and
    # keep the pruned scorer paths (see DEAD_HORIZON).
    _append_tombstones(
        spark, paths, tomb,
        horizon=gen if config.docid_col else DEAD_HORIZON,
    )

    # docids: externally managed when docid_col is set (same contract as
    # build_index); otherwise continue after the current max: rank of pk
    # within the batch (the scalable two-pass range rank — deterministic
    # for unique pks at any parallelism), offset by max_docid
    offset = int(meta["max_docid"]) + 1
    rank_handle = None
    if config.docid_col:
        with_id = batch.withColumn("docid", F.col(config.docid_col).cast("long"))
    else:
        ranked, rank_handle = assign_docids(batch, config.pk_col)
        with_id = ranked.withColumn(
            "docid", (F.col("docid") + F.lit(offset)).cast("long")
        )
    if config.field_cols:
        search_sel = [F.col(c).alias(c) for c, _w in config.field_cols]
        search_names = [c for c, _w in config.field_cols]
    else:
        search_sel = [F.col(config.text_col).alias("text")]
        search_names = ["text"]
    docs = with_id.select(
        "docid",
        F.col(config.pk_col).alias("pk"),
        *search_sel,
        *[F.col(c) for c in config.attr_cols if c not in search_names],
    ).withColumn("gen", F.lit(gen).cast("int"))
    docs.write.mode("append").parquet(paths.docs)
    if rank_handle is not None:
        rank_handle.unpersist()
    # the batch's pks, not docs.select("pk"): that would re-run the docid
    # rank (released above) for every job below
    docs_df = _read_with_gen(spark, paths.docs).join(batch_pks, "pk").select(
        "docid", "pk", "gen", *search_names,
        *[c for c in config.attr_cols if c not in search_names]
    )
    # appended rows are the only ones with these pks — old versions of
    # replaced pks share the pk (and, under docid_col, the docid too); the
    # newest generation wins
    docs_df = (
        docs_df.withColumn(
            "_rn", F.row_number().over(
                Window.partitionBy("pk").orderBy(
                    F.col("gen").desc(), F.col("docid").desc()
                )
            )
        )
        .filter("_rn = 1")
        .drop("_rn", "gen")
    )
    n_new = docs_df.count()

    # extract ONLY the new docs into term_doc/gen=N
    n_extract = config.extract_partitions or max(
        spark.sparkContext.defaultParallelism * 2, 8
    )
    extracted = (
        docs_df.select("docid", *[c for c, _ in config.searchable_fields()])
        .repartition(n_extract)
        .mapInArrow(make_extract_fn(config), schema=term_doc_schema(config))
    )
    spill = paths.gen_dir(paths.term_doc, gen)
    staging, commit = staged_write(spill)
    extracted.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    commit()
    td_gen = spark.read.parquet(spill)

    # doc_stats append for the new docs
    dl_df = doc_lengths(td_gen)
    stats = (
        docs_df.select("docid", "pk", *config.attr_cols)
        .join(dl_df, "docid", "left")
        .withColumn("dl", F.coalesce(F.col("dl"), F.lit(0)).cast("int"))
        .withColumn("gen", F.lit(gen).cast("int"))
    )
    stats.write.mode("append").parquet(paths.doc_stats)

    # per-generation dictionary
    staging, commit = staged_write(paths.gen_dir(paths.terms, gen))
    terms_agg(td_gen).write.mode("overwrite").parquet(staging)
    commit()

    # live avgdl AFTER the append (tombstoned dls removed)
    n_live, avgdl, total_dl = _live_stats(spark, paths)

    # postings for the new generation, encoded with the fresh avgdl
    encode_fn = make_encode_fn(config, avgdl)
    seg = (
        td_gen.filter(F.col("bucket") != DL_BUCKET)
        .groupBy("shard")
        .applyInArrow(encode_fn, schema=POSTINGS_SCHEMA)
    )
    staging, commit = staged_write(paths.gen_dir(paths.postings, gen))
    seg.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    commit()
    shutil.rmtree(spill)
    if not os.listdir(paths.term_doc):
        os.rmdir(paths.term_doc)

    meta["generations"][str(gen)] = {"avgdl": float(avgdl), "n_docs": int(n_new)}
    meta.update(
        n_docs=int(n_live),
        avgdl=float(avgdl),
        total_dl=int(total_dl),
        max_docid=int(offset + n_new - 1),
        n_deleted=_n_deleted(spark, paths),
    )
    _rewrite_meta(paths, config, meta)
    return read_meta(paths)


def update_documents(
    spark: SparkSession, index_dir: str, partial: DataFrame
) -> dict:
    """``UpdateDocuments`` per-field merge (reference
    ``update/index_documents/helpers/merge_functions.rs:47-161`` +
    ``IndexDocumentsMethod::UpdateDocuments``, ``transform.rs:107-110``):
    each incoming row updates ONLY the fields it carries — fields absent
    from ``partial``'s schema (or NULL in a carried column) keep their
    stored values; pks not yet indexed insert the partial row as a new
    document. The merged full rows then flow through the ReplaceDocuments
    path (tombstone + new generation), so search/filters see the merge
    immediately.

    Deviation note: the reference distinguishes "field set to null" from
    "field absent" (obkv records carry explicit keys); a DataFrame column
    cannot, so NULL-in-a-carried-column means "keep old" here. To clear a
    field, use ``add_documents`` (replace) with the full document.

    ``partial`` must contain ``config.pk_col``; other columns must be a
    subset of the indexed schema (searchable fields + attr_cols, source
    names).
    """
    paths, meta, config = _load(spark, index_dir)

    # snapshot-name <-> source-name mapping (single-field snapshots store
    # text under the canonical name 'text')
    if config.field_cols:
        field_map = [(c, c) for c, _w in config.field_cols]
    else:
        field_map = [(config.text_col, "text")]
    snap_of = {src: dst for src, dst in field_map}
    attr_extra = [
        c for c in config.attr_cols if c not in {d for _, d in field_map}
    ]

    allowed = {config.pk_col, *snap_of, *attr_extra}
    unknown = set(partial.columns) - allowed
    if unknown:
        raise ValueError(
            f"update_documents: unknown columns {sorted(unknown)}; "
            f"indexed columns are {sorted(allowed)}"
        )
    if config.pk_col not in partial.columns:
        raise ValueError(f"update_documents: missing pk column {config.pk_col!r}")

    old = _filter_dead(
        _read_with_gen(spark, paths.docs), _tombstones_df(spark, paths)
    )
    # live version per pk (replaced pks keep multiple rows across gens;
    # docid_col replacements reuse the docid, so order by gen first)
    old = (
        old.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("pk").orderBy(
                    F.col("gen").desc(), F.col("docid").desc()
                )
            ),
        )
        .filter("_rn = 1")
        .drop("_rn", "docid", "gen")
    )

    new = partial.withColumnRenamed(config.pk_col, "pk")
    for src, dst in field_map:
        if src in new.columns and src != dst:
            new = new.withColumnRenamed(src, dst)
    upd_cols = set(new.columns) - {"pk"}

    merged_cols = []
    for c in old.columns:
        if c == "pk":
            continue
        if c in upd_cols:
            merged_cols.append(
                F.coalesce(new[c], old[c]).alias(c)
            )
        else:
            merged_cols.append(old[c].alias(c))
    # pks only in the update: left join keeps them with old.* = NULL
    merged = new.join(old, "pk", "left").select(F.col("pk"), *merged_cols)

    # back to source names for the replace path
    out = merged.withColumnRenamed("pk", config.pk_col)
    for src, dst in field_map:
        if src != dst:
            out = out.withColumnRenamed(dst, src)
    return add_documents(spark, index_dir, out)


def delete_documents(spark: SparkSession, index_dir: str, pks: list) -> dict:
    """Tombstone documents by external id (reference T3)."""
    paths, meta, config = _load(spark, index_dir)
    existing = spark.read.parquet(paths.doc_stats).select("docid", "pk")
    pk_df = spark.createDataFrame([(p,) for p in pks], f"pk {existing.schema['pk'].dataType.simpleString()}")
    tomb = existing.join(pk_df, "pk").select("docid")
    # docid_col: horizon = max_gen + 1 — dead in every generation that
    # exists today; a later re-add of the SAME docid into a newer generation
    # stays live (horizons fold by max). Rank-assigned docids never recur:
    # dead-everywhere, pruned scorers stay on (DEAD_HORIZON).
    _append_tombstones(
        spark, paths, tomb,
        horizon=_next_gen(meta) if config.docid_col else DEAD_HORIZON,
    )
    n_live, avgdl, total_dl = _live_stats(spark, paths)
    meta.update(
        n_docs=int(n_live), avgdl=float(avgdl), total_dl=int(total_dl),
        n_deleted=_n_deleted(spark, paths),
    )
    _rewrite_meta(paths, config, meta)
    return read_meta(paths)


def delete_by_filter(
    spark: SparkSession, index_dir: str, filter_ast: dict
) -> dict:
    """Tombstone every document whose attributes match ``filter_ast`` (the
    same predicate language as search-time filters, filters.py).

    The reference deletes only by external id (T3; del_add merge during
    indexing) — filter-scoped deletion is the batch-pipeline extension:
    resolve the matching docids from the attribute columns (one pruned scan,
    no postings touched) and append them as tombstones. Scale shape is
    identical to delete_documents: tombstones are a docid parquet append;
    postings rewrite cost is deferred to compact().
    """
    from .filters import to_column

    paths, meta, config = _load(spark, index_dir)
    stats = spark.read.parquet(paths.doc_stats)
    tomb = stats.filter(to_column(filter_ast)).select("docid")
    _append_tombstones(
        spark, paths, tomb,
        horizon=_next_gen(meta) if config.docid_col else DEAD_HORIZON,
    )
    n_live, avgdl, total_dl = _live_stats(spark, paths)
    meta.update(
        n_docs=int(n_live), avgdl=float(avgdl), total_dl=int(total_dl),
        n_deleted=_n_deleted(spark, paths),
    )
    _rewrite_meta(paths, config, meta)
    return read_meta(paths)


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Segment merge: fold all generations + tombstones into a fresh gen=0.

    Merges the postings themselves (no re-tokenization): every
    generation's rows are decoded, dead postings dropped (``_live_runs``),
    and the live postings re-encoded by the build's own dictionary and
    encoder kernels at the new avgdl; docids are preserved. After
    compaction df/idf are exact again and WAND bound scaling returns to 1.

    Stage-then-swap: docs, doc_stats, terms and postings are all staged
    beside the live stores before any of them is replaced, so a compact
    that fails while staging leaves the index serving as before. The swap
    is then a sequence of renames, with meta.json written last.
    """
    paths, meta, config = _load(spark, index_dir)
    # staged by a compact that failed; a store whose live copy is gone
    # (a crash inside the swap) keeps its only copy
    for name in os.listdir(paths.root):
        live = os.path.join(paths.root, name.split(".compact")[0])
        if ".compact" in name and os.path.exists(live):
            shutil.rmtree(os.path.join(paths.root, name))
    tomb = _tombstones_df(spark, paths)
    pairs = tomb.collect() if tomb is not None else []
    t0 = time.time()

    def stage(store: str, df: DataFrame, *partition_by: str):
        """Write ``df`` to ``<store>.compact`` (into its ``gen=0`` for the
        segment stores), leaving the live store untouched."""
        target = store + ".compact"
        if store in (paths.terms, paths.postings):
            target = paths.gen_dir(target, 0)
        staging, commit = staged_write(target)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
        commit()

    # compacted rows all live in the fresh gen 0
    docs = _filter_dead(_read_with_gen(spark, paths.docs), tomb)
    stage(paths.docs, docs.withColumn("gen", F.lit(0).cast("int")))
    obs = Observation()
    stats = _filter_dead(_read_with_gen(spark, paths.doc_stats), tomb).observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("dl").alias("dl"),
        F.max("docid").alias("max_docid"),
    )
    stage(paths.doc_stats, stats.withColumn("gen", F.lit(0).cast("int")))
    got = obs.get
    n_live = int(got["rows"])
    total_dl = int(got["dl"] or 0)
    max_docid = int(got["max_docid"] if got["max_docid"] is not None else -1)
    avgdl = total_dl / n_live if n_live else 0.0

    # the live postings of every generation, as extraction runs, written
    # once: the dictionary and the encoder both read them
    spill = paths.term_doc + ".compact"
    _live_runs(_read_with_gen(spark, paths.postings), pairs, config) \
        .write.mode("overwrite").parquet(spill)
    runs = spark.read.parquet(spill)
    tobs = Observation()
    stage(paths.terms, terms_agg(runs).observe(
        tobs, F.count(F.lit(1)).alias("rows")))
    n_terms = int(tobs.get["rows"])
    seg = runs.groupBy("shard").applyInArrow(
        make_encode_fn(config, avgdl), schema=POSTINGS_SCHEMA)
    stage(paths.postings, seg, "bucket")

    for store in (paths.docs, paths.doc_stats, paths.terms, paths.postings):
        shutil.rmtree(store)
        os.replace(store + ".compact", store)
    for gone in (paths.deletes, spill, paths.term_doc):
        shutil.rmtree(gone, ignore_errors=True)

    meta.update(
        n_docs=n_live,
        avgdl=float(avgdl),
        total_dl=total_dl,
        n_terms=n_terms,
        n_deleted=0,
        max_docid=max_docid,
        generations={"0": {"avgdl": float(avgdl), "n_docs": n_live}},
        compacted_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        compact_wall_s=round(time.time() - t0, 2),
    )
    _rewrite_meta(paths, config, meta)
    return read_meta(paths)


# ---------------------------------------------------------------------------


def _live_runs(
    postings_df: DataFrame, tomb_pairs: list, config: IndexConfig
) -> DataFrame:
    """Postings rows -> their live postings as extraction runs (rows in
    ``term_doc_schema(config)``), the input ``terms_agg`` and
    ``make_encode_fn`` take — fully vectorized: one varint decode per
    stream per Arrow batch, no per-row or per-posting Python loops.

    ``postings_df`` carries the ``gen`` and ``bucket`` partition columns.
    ``tomb_pairs`` are (docid, horizon) rows; a posting of generation g is
    dead iff its docid's horizon > g. Rows left with no live posting are
    dropped. The pairs ship as a Spark broadcast — one torrent transfer
    per executor — rather than inside every task's pickled closure."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_engine_spark.query import _live_post_mask

    t_ids = np.asarray([int(r["docid"]) for r in tomb_pairs], dtype=np.int64)
    t_hor = np.asarray([int(r["horizon"]) for r in tomb_pairs], dtype=np.int64)
    order = np.argsort(t_ids, kind="stable")
    bc = postings_df.sparkSession.sparkContext.broadcast(
        (t_ids[order], t_hor[order]))
    block_size, store_positions = config.block_size, config.store_positions
    out_schema = _extract_arrow_schema(store_positions)

    def fn(batches):
        pt = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            n = batch.column("n_docs").to_numpy(
                zero_copy_only=False).astype(np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            total = int(n.sum())
            # a block's first docid delta is stored as 0: put the block's
            # absolute first docid there, then decode runs = blocks
            in_row = np.arange(total, dtype=np.int64) - np.repeat(starts, n)
            block_start = np.flatnonzero(in_row % block_size == 0)
            deltas = varint_decode(
                _blob_flat(batch, "docs"), total, dtype=np.int64)
            deltas[block_start] = pc.struct_field(pc.list_flatten(
                batch.column("block_meta")), "first_docid").to_numpy()
            docids = delta_decode_runs(deltas, block_start)
            tfs = varint_decode(_blob_flat(batch, "tfs"), total, dtype=np.int64)
            dls = varint_decode(_blob_flat(batch, "dls"), total, dtype=np.int64)
            gen = batch.column("gen").to_numpy(
                zero_copy_only=False).astype(np.int64)
            keep = _live_post_mask(docids, np.repeat(gen, n), pt)

            live_n = np.add.reduceat(keep, starts)
            rows = np.flatnonzero(live_n)
            offs = np.zeros(len(rows) + 1, dtype=np.int64)
            np.cumsum(live_n[rows], out=offs[1:])
            d, t = docids[keep], tfs[keep]
            cf = np.add.reduceat(t, offs[:-1])
            cols = [
                pc.take(batch.column(c), pa.array(rows))
                for c in ("bucket", "term", "shard")
            ] + [
                pa.array(live_n[rows], type=pa.int32()),
                pa.array(cf, type=pa.int64()),
                pa.array(np.maximum.reduceat(t, offs[:-1]), type=pa.int32()),
                _binary_runs(*varint_encode_runs(
                    delta_encode_runs(d, offs[:-1]), offs)),
                _binary_runs(*varint_encode_runs(t, offs)),
                _binary_runs(*varint_encode_runs(dls[keep], offs)),
            ]
            if store_positions:
                # per-posting position deltas (first position absolute)
                # decode independently: keep the live postings' deltas
                p = varint_decode(_blob_flat(batch, "poss"), int(tfs.sum()),
                                  dtype=np.uint32)
                p_offs = np.zeros(len(rows) + 1, dtype=np.int64)
                np.cumsum(cf, out=p_offs[1:])
                cols.append(_binary_runs(
                    *varint_encode_runs(p[np.repeat(keep, tfs)], p_offs)))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return postings_df.select(
        "bucket", "term", "shard", "gen", "n_docs", "docs", "tfs", "dls",
        "poss", "block_meta",
    ).mapInArrow(fn, schema=term_doc_schema(config))


def _append_tombstones(
    spark: SparkSession, paths: IndexPaths, tomb: DataFrame, horizon: int
):
    """Tombstones carry a generation HORIZON: the docid is dead in every
    generation < horizon. Rank-assigned docids always stamp DEAD_HORIZON
    (they can never recur); an in-place replacement of an externally-managed
    docid (docid_col) stamps horizon = the replacing generation, so the NEW
    version stays live — the reference's DelAdd semantics expressed over
    immutable segment generations."""
    tomb.select("docid").withColumn(
        "horizon", F.lit(int(horizon)).cast("int")
    ).write.mode("append").parquet(paths.deletes)


def _tombstones_df(spark: SparkSession, paths: IndexPaths) -> DataFrame | None:
    """(docid, horizon) with horizon folded to the max per docid (a doc is
    dead in gen g iff ANY tombstone has horizon > g iff max(horizon) > g).
    Rows written before horizons existed read as dead-everywhere."""
    if not os.path.isdir(paths.deletes):
        return None
    d = spark.read.parquet(paths.deletes)
    if "horizon" not in d.columns:
        d = d.withColumn("horizon", F.lit(DEAD_HORIZON))
    return d.groupBy("docid").agg(F.max("horizon").alias("horizon"))


def _filter_dead(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Keep rows whose generation survived: no tombstone, or gen >= horizon.
    ``df`` must carry a ``gen`` column (docs / doc_stats)."""
    if tomb is None:
        return df
    gen = F.coalesce(F.col("gen"), F.lit(0))  # legacy gen-less rows = gen 0
    return (
        df.join(F.broadcast(tomb), "docid", "left")
        .filter(F.col("horizon").isNull() | (gen >= F.col("horizon")))
        .drop("horizon")
    )


def _n_deleted(spark: SparkSession, paths: IndexPaths) -> int:
    """DEAD doc_stats rows (gen-aware). Each dead row is one superseded or
    deleted document version whose postings still count toward df, so
    n_docs_indexed = live + n_deleted keeps idf's denominator aligned with
    the stale per-term df (query.py frozen semantics). Duplicate tombstone
    appends (replace-then-delete, overlapping delete_by_filter) fold to one
    horizon per docid, so they never inflate the count."""
    spark_ = spark
    tomb = _tombstones_df(spark_, paths)
    if tomb is None:
        return 0
    stats = _read_with_gen(spark_, paths.doc_stats)
    dead = stats.join(F.broadcast(tomb), "docid").filter(
        F.coalesce(F.col("gen"), F.lit(0)) < F.col("horizon")
    )
    return int(dead.count())


def _live_stats(spark: SparkSession, paths: IndexPaths) -> tuple[int, float, int]:
    stats = _read_with_gen(spark, paths.doc_stats)
    stats = _filter_dead(stats, _tombstones_df(spark, paths))
    row = stats.agg(F.count("*").alias("n"), F.sum("dl").alias("t")).collect()[0]
    n, t = int(row["n"] or 0), int(row["t"] or 0)
    return n, (t / n if n else 0.0), t


def _rewrite_meta(paths: IndexPaths, config: IndexConfig, meta: dict):
    scalars = {k: v for k, v in meta.items() if k != "config"}
    write_meta(paths, config, scalars)


def update_settings(spark: SparkSession, index_dir: str, **changes) -> dict:
    """Diff-aware per-index settings update (reference ``Settings::execute``,
    ``src/update/settings.rs:189-243`` decide-then-``:865+`` reindex).

    ``changes`` may mix:

    * ``IndexSettings`` fields (synonyms, matching_strategy, proximity,
      ngrams/splits, typo thresholds …) — query-time only: meta.json is
      rewritten, NO data touched. Queries pick the new defaults up on the
      next ``SearchIndex`` open.
    * ``IndexConfig`` fields — if any is extraction-affecting
      (``config.EXTRACTION_AFFECTING``: searchable fields, attr set,
      positions, sharding, BM25 params …) the index is REBUILT from its
      docs snapshot via :func:`reindex` (docids preserved); pure tuning
      knobs (extract_partitions, encode_group_postings,
      stage1_cache_max_bytes) rewrite meta only.

    Returns the updated meta dict.
    """
    import dataclasses

    paths, meta, config = _load(spark, index_dir)
    sfields = {f.name for f in dataclasses.fields(IndexSettings)}
    cfields = {f.name for f in dataclasses.fields(IndexConfig)}
    unknown = set(changes) - sfields - cfields
    if unknown:
        raise ValueError(f"unknown settings: {sorted(unknown)}")
    old_settings = IndexSettings.from_dict(meta.get("settings", {}))
    new_settings = IndexSettings.from_dict(
        {**old_settings.to_dict(),
         **{k: v for k, v in changes.items() if k in sfields}}
    )
    meta["settings"] = new_settings.to_dict()
    # diff AFTER from_dict normalization (nested lists -> tuples etc.), so a
    # semantically-equal value (field_cols=[["text",1]] vs (("text",1),))
    # never registers as a change and triggers a spurious full reindex
    cand = IndexConfig.from_dict(
        {**config.to_dict(),
         **{k: v for k, v in changes.items() if k in cfields}}
    )
    c_changes = {
        k: getattr(cand, k) for k in changes
        if k in cfields and getattr(cand, k) != getattr(config, k)
    }
    if c_changes:
        new_config = cand
        if any(k in EXTRACTION_AFFECTING for k in c_changes):
            return reindex(spark, index_dir, new_config,
                           settings=new_settings)
        config = new_config
    _rewrite_meta(paths, config, meta)
    return read_meta(paths)


def reindex(
    spark: SparkSession,
    index_dir: str,
    new_config: IndexConfig,
    settings: IndexSettings | None = None,
) -> dict:
    """Settings change -> full rebuild from the canonical document store
    (reference T8 ``Settings::execute`` + ``reindex``,
    ``src/update/settings.rs:865+``): the docs snapshot is re-extracted
    under ``new_config`` (block size, shards/buckets, positions flag, BM25
    params, attr set) without touching the original input. docids are
    preserved (the snapshot already carries them), so external references
    stay valid across the settings change — same guarantee the reference's
    in-place reindex gives. Persisted query-time settings carry over
    (``settings`` overrides them when given).
    """
    import tempfile

    from search_engine_spark.build import build_index

    paths, meta, _old = _load(spark, index_dir)
    if settings is None:
        settings = IndexSettings.from_dict(meta.get("settings", {}))
    docs = _filter_dead(
        _read_with_gen(spark, paths.docs), _tombstones_df(spark, paths)
    ).drop("gen")

    # the docs snapshot stores single-field text under the canonical name
    # 'text'; multi-field (field_cols) snapshots keep the source names, so
    # field_cols carries over unchanged
    cfg = IndexConfig.from_dict(
        {**new_config.to_dict(), "pk_col": "pk", "text_col": "text",
         "ts_col": None, "docid_col": "docid"}
    )
    staging = tempfile.mkdtemp(prefix="reindex-", dir=os.path.dirname(index_dir.rstrip("/")) or ".")
    try:
        build_index(spark, docs, staging, cfg, settings=settings)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    old = index_dir.rstrip("/") + ".pre-reindex"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(index_dir, old)
    os.replace(staging, index_dir)
    shutil.rmtree(old, ignore_errors=True)
    return read_meta(IndexPaths(index_dir))


def snapshot(index_dir: str, dest_dir: str, include_metrics: bool = True) -> dict:
    """Point-in-time index snapshot (reference S7, ``snapshot.rs``: copy
    the environment into a tarball; here: a directory copy openable
    directly by ``SearchIndex``). Returns the pinned meta dict.

    Consistency contract: the snapshot is point-in-time only when no
    writer runs during the copy. The source ``meta.json`` is read FIRST
    (pinning the committed generation set), the data trees are copied,
    then any ``gen=N`` segment directory NOT in the pinned set is pruned
    and the PINNED meta is written last, so a generation landed mid-copy
    does not reach the segment stores (terms / postings). The
    flat stores (docs / doc_stats / deletes) are copied as they are:
    readers do not bound them by the pinned generations, so rows or
    tombstones a concurrent writer adds mid-copy can reach the snapshot.
    Build checkpoints (``_checkpoints``) are deliberately NOT copied: a
    snapshot is a read surface, not a resumable build.

    Scale note: this is a driver-side file copy — at cluster scale the
    same pin-prune-meta-last sequence runs as a DistCp/object-store
    copy job; the contract (meta pinned first, written last) is what
    matters, not the copy mechanism.
    """
    import json

    src = IndexPaths(index_dir)
    meta = read_meta(src)
    pinned_gens = {int(g) for g in meta.get("generations", {"0": {}})}
    if os.path.exists(os.path.join(dest_dir, "meta.json")):
        raise ValueError(f"snapshot: {dest_dir!r} already holds an index")
    os.makedirs(dest_dir, exist_ok=True)
    dst = IndexPaths(dest_dir)
    for name in ("docs", "doc_stats", "terms", "postings",
                 "deletes") + (("metrics",) if include_metrics else ()):
        s = getattr(src, name)
        if os.path.exists(s):
            shutil.copytree(s, getattr(dst, name), dirs_exist_ok=True)
    for name in ("terms", "postings"):
        base = getattr(dst, name)
        if not os.path.isdir(base):
            continue
        for child in os.listdir(base):
            if child.startswith("gen="):
                g = int(child.split("=", 1)[1])
                if g not in pinned_gens:
                    shutil.rmtree(os.path.join(base, child),
                                  ignore_errors=True)
    with open(dst.meta, "w") as f:
        json.dump(meta, f)
    return meta
