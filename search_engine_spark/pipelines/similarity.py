"""Similarity search over an ``array<float>`` embedding column.

* ``cosine_topk``       — brute-force exact top-k for one query vector
* ``cosine_topk_batch`` — exact top-k for a batch of query rows (broadcast
                          join + window rank; the map side is a single
                          whole-stage-codegen pass over the corpus)
* ``lsh_cosine_topk``   — random-hyperplane LSH bucketing: sign-bit sketch,
                          candidates = same bucket, exact re-rank inside the
                          bucket (the scale path: the full scan is replaced
                          by a bucket-pruned scan)
* ``cosine_near_dup_pairs`` — embedding-cosine near-duplicate *pairs*:
                          banded sign-sketch LSH candidate join (linear
                          shuffle, no all-pairs), exact cosine verification
                          on candidates only
* ``ivf_cosine_topk``   — IVF-Flat ANN: deterministic sampled centroids
                          (md5-ordered vec ids), nearest-centroid inverted
                          lists, query probes the ``n_probe`` closest lists
                          and re-ranks exactly inside them

All arithmetic is JVM-side (``zip_with``/``aggregate`` higher-order
functions) in float64 after casting the float32 input — no Python in the
hot path. Hyperplanes are derived from md5 so the sketch is deterministic
and reproducible in the DuckDB oracle.

The reference's vector search (arroy ANN trees,
``/root/reference/src/search/ranking/vector_sort.rs``) is out of scope per
the north rule; these operators are its Spark-native replacement.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

ROUND = 6  # similarity rounding (oracle float-compare stability)


def _vecd(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: -> (rank, vec_id, sim).

    One codegen'd scan + a global top-k (``orderBy().limit()`` compiles to
    per-partition TakeOrdered + driver merge of k rows per partition — the
    distributed top-k pattern; no full sort materializes).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _vecd(F.col(vec_col))
    scored = emb.select(
        F.col(id_col).alias("vec_id"),
        F.round(_dot(v, q) / (_norm(v) * _norm(q)), ROUND).alias("sim"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col("vec_id").isin(exclude_ids))
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "sim")
    )


def cosine_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact top-k for each query row: -> (qid, rank, vec_id, sim).

    ``queries`` is broadcast (small dim side); the corpus scan computes all
    query similarities in one pass; per-query rank via window over (qid).
    Self-matches (qid == vec_id) are excluded.
    """
    qd = queries.select(F.col(qid_col).alias("qid"), _vecd(F.col(qvec_col)).alias("qv"))
    v = _vecd(F.col(vec_col))
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
        .join(F.broadcast(qd))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv"))), ROUND
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# hyperplane LSH
# ---------------------------------------------------------------------------


def _plane_component(p: Column, d: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    60 bits of md5(p ':' d) scaled. Identical in Spark / DuckDB / Python."""
    v = F.conv(F.substring(F.md5(F.concat_ws(":", p, d)), 1, 15), 16, 10).cast("double")
    return v / F.lit(float(1 << 59)) - F.lit(1.0)


def _plane_matrix(n_planes: int, dim: int) -> "np.ndarray":
    """The (n_planes, dim) hyperplane matrix from the same md5 formula as
    ``_plane_component`` — computed once per (n_planes, dim), not per row."""
    import hashlib

    import numpy as np

    m = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            m[p, d] = int(h[:15], 16) / float(1 << 59) - 1.0
    return m


def lsh_bucket(vec_col: Column, n_planes: int = 12) -> Column:
    """Sign-bit sketch: bucket = bigint whose bit p is (vec . plane_p) > 0.

    Arrow-batched pandas UDF: each batch's vectors matmul once against the
    md5-derived plane matrix (cached per dim), then sign bits pack into a
    bigint. Nothing is stored or shuffled to build the sketch, and the
    per-row cost is one fused BLAS row — this replaced a per-element
    Catalyst expression tree (n_planes x dim interpreted md5+folds per row)
    that was ~50x slower at bench scale.
    """
    from pyspark.sql.functions import pandas_udf

    # closure-level so the O(n_planes*dim) md5 matrix is built once per
    # executor per dim, not once per Arrow batch
    planes: dict[int, "np.ndarray"] = {}

    @pandas_udf("long")
    def sketch(s: pd.Series) -> pd.Series:
        import numpy as np

        if not len(s):
            return pd.Series(np.zeros(0, dtype=np.int64))
        weights = np.asarray([1 << p for p in range(n_planes)], dtype=np.int64)
        dims = s.map(len).to_numpy()
        out = np.zeros(len(s), dtype=np.int64)
        vecs = s.to_numpy()
        for dim in np.unique(dims):
            if dim == 0:
                continue
            pm = planes.setdefault(int(dim), _plane_matrix(n_planes, int(dim)))
            sel = np.nonzero(dims == dim)[0]
            V = np.asarray([np.asarray(vecs[i], dtype=np.float64) for i in sel])
            bits = V @ pm.T > 0  # (rows, n_planes)
            out[sel] = bits @ weights
        return pd.Series(out)

    return sketch(vec_col)


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 4096,  # == dedup.DEFAULT_BUCKET_CAP; None disables
    audit_cap: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: -> (a, b, sim).

    The dedup analogue of ``minhash_lsh_pairs`` for dense vectors: each
    vector gets an ``n_planes``-bit sign sketch (md5-derived hyperplanes,
    deterministic); the sketch is split into ``n_bands`` bands and a pair
    becomes a candidate iff at least one band matches exactly (pigeonhole:
    every pair within Hamming distance ``n_bands - 1`` of the full sketch
    is guaranteed found). Exact cosine runs only on candidates.

    Scale shape: the candidate join shuffles on (band, segment) — bucket
    count grows with the corpus, never all-pairs; candidates carry only id
    pairs, and the vectors join back co-partitioned on id. At 100 TB raise
    ``n_planes``/``n_bands`` (e.g. 128 planes x 16 8-bit bands) so per-bucket
    occupancy stays bounded; the plan shape is unchanged. ``bucket_cap``
    additionally bounds per-(band, seg) occupancy against giant
    identical-embedding clusters — the occupancy^2 skew bomb; see
    ``dedup.cap_bucket_occupancy`` (``None`` disables).
    """
    from .dedup import cap_bucket_occupancy

    bits = n_planes // n_bands
    mask = (1 << bits) - 1
    sk = emb.select(
        F.col(id_col).alias("vec_id"),
        lsh_bucket(F.col(vec_col), n_planes).alias("sketch"),
    )
    bands = sk.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.shiftright(F.col("sketch"), j * bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("seg"),
                )
                for j in range(n_bands)
            ])
        ).alias("bs"),
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.seg").alias("seg"))
    bands = cap_bucket_occupancy(
        bands, ("band", "seg"), bucket_cap, id_col="vec_id", audit=audit_cap
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a"), F.col("b.vec_id").alias("b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("a"), _vecd(F.col(vec_col)).alias("va"))
    vb = emb.select(F.col(id_col).alias("b"), _vecd(F.col(vec_col)).alias("vb"))

    # exact-cosine verify, Arrow-batched: candidate fan-out can reach
    # bucket_occupancy^2 rows, so the per-pair cost must be a fused numpy
    # row-dot, not an interpreted per-element fold (measured ~3x on the
    # verify stage at bench scale; 6-decimal rounding absorbs summation
    # order like it already does between Spark and the DuckDB oracle)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        import numpy as np

        if not len(sa):
            return pd.Series(np.zeros(0, dtype=np.float64))
        A = np.vstack([np.asarray(x, dtype=np.float64) for x in sa])
        B = np.vstack([np.asarray(x, dtype=np.float64) for x in sb])
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("sim", F.round(pair_cos(F.col("va"), F.col("vb")), ROUND))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def _ivf_assign(emb: DataFrame, cents: DataFrame, id_col: str,
                vec_col: str) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties -> smaller
    cid): ONE broadcast of the collapsed centroid array + one codegen'd
    projection, zero exchanges over the corpus (see ivf_assignments)."""
    carr = cents.agg(
        F.sort_array(
            F.collect_list(
                F.struct("cid", "cvec", _norm(F.col("cvec")).alias("cnorm"))
            )
        ).alias("carr")
    )

    def _step(acc, c):
        sim = _dot(F.col("v"), c["cvec"]) / (F.col("nv") * c["cnorm"])
        return F.when(
            sim > acc["csim"],
            F.struct(c["cid"].alias("cid"), sim.alias("csim")),
        ).otherwise(acc)

    init = F.struct(
        F.lit(-1).alias("cid"), F.lit(float("-inf")).alias("csim")
    )
    v = _vecd(F.col(vec_col))
    return (
        emb.select(
            F.col(id_col).alias("vec_id"),
            # Generate barrier: v and nv become concrete attributes, so the
            # n_centroids aggregate steps below reuse them instead of
            # re-deriving the cast + norm per step (CollapseProject).
            F.explode(
                F.array(F.struct(v.alias("v"), _norm(v).alias("nv")))
            ).alias("s"),
        )
        .select("vec_id", F.col("s.v").alias("v"), F.col("s.nv").alias("nv"))
        .crossJoin(F.broadcast(carr))
        .withColumn("best", F.aggregate("carr", init, _step))
        .select("vec_id", F.col("best.cid").alias("cid"), "v")
    )


def _lloyd_update(assigns: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd step: each centroid moves to the element-wise mean of its
    assigned vectors (empty clusters keep their old centroid). Two narrow
    aggregations — posexplode to (cid, dim) partial means (map-side
    combined), then re-collect the array — both shuffles carry
    centroid-count-sized data, never the corpus."""
    sums = (
        assigns.select("cid", F.posexplode("v").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
        .select("cid", F.expr("transform(dm, s -> s.m)").alias("new"))
    )
    return (
        cents.join(sums, "cid", "left")
        .select("cid", F.coalesce("new", "cvec").alias("cvec"))
    )


def ivf_assignments(
    emb: DataFrame,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: -> (centroids, assignments).

    Centroids are the ``n_centroids`` corpus vectors with the smallest
    ``md5(vec_id)`` — a deterministic uniform sample (md5 is uncorrelated
    with insertion order or vector values), the "random init" flavor of
    IVF-Flat with no Lloyd refinement, reproducible bit-for-bit in the
    DuckDB oracle. ``centroids`` = (cid, cvec) with cid densely ranked by
    the same md5 order; ``assignments`` = (vec_id, cid, 'v' vector) where
    cid maximizes cosine(vector, centroid) (ties -> smaller cid).

    Scale shape: the centroid set is collapsed to ONE broadcast row (a
    cid-sorted array of (cid, cvec, cnorm) structs) and the assignment is
    a single codegen'd projection — ``F.aggregate`` walks the array
    keeping the running argmax — so the corpus is scanned once with ZERO
    exchanges (the earlier formulation's per-vector argmax window
    shuffled n_centroids copies of every vector). Iterating cids
    ascending with a strict ``>`` reproduces the (csim desc, cid asc)
    tie rule exactly, and the per-element arithmetic is unchanged:
    centroid norms are precomputed once on the (tiny) centroid side and
    the vector's own norm once per row behind a Generate barrier — same
    IEEE op sequence as inlining them, ~3x fewer O(dim) passes per
    (vector, centroid), and the barrier stops CollapseProject from
    re-deriving the norm inside every aggregate step.
    At 100 TB the assignments table is written ``partitionBy(cid)`` so a
    probe prunes to ``n_probe`` partitions; the query plan is unchanged.

    ``n_centroids='auto'`` sizes the codebook to ~sqrt(n) (one count()
    job) — the standard IVF guidance, keeping list length ~sqrt(n) so
    probe cost and list scan cost balance. ``lloyd_iters > 0`` runs that
    many Lloyd refinement steps (assign -> per-cid element-wise mean,
    empty clusters keep their centroid): each step is the same zero-
    exchange assignment projection plus two centroid-count-sized
    aggregations, deterministic given the md5-seeded init up to float
    summation order (the default ``lloyd_iters=0`` path stays
    bit-reproducible for the DuckDB oracle).
    """
    if n_centroids == "auto":
        import math

        n_centroids = max(1, math.isqrt(emb.count()))
    cents = (
        emb.select(
            F.col(id_col).alias("src_id"),
            _vecd(F.col(vec_col)).alias("cvec"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "src_id")
        .limit(n_centroids)
        .select(
            (F.row_number().over(Window.orderBy("h", "src_id")) - 1).alias("cid"),
            "cvec",
        )
    )
    for _ in range(lloyd_iters):
        assigns = _ivf_assign(emb, cents, id_col, vec_col)
        # localCheckpoint cuts the per-iteration lineage (at cluster scale
        # swap for checkpoint() to reliable storage); the centroid table
        # is n_centroids rows, so the materialization is tiny
        new = _lloyd_update(assigns, cents).localCheckpoint()
        cents.unpersist()
        cents = new
    return cents, _ivf_assign(emb, cents, id_col, vec_col)


def ivf_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int | str = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-Flat ANN top-k: -> (rank, vec_id, sim).

    Probes the ``n_probe`` centroids closest to the query (cosine, ties ->
    smaller cid) and exact-cosine re-ranks only the vectors assigned to
    those lists. Recall < 1.0 by construction (the probed lists may miss
    true neighbors); with ``n_probe == n_centroids`` it is exhaustive.
    ``n_centroids='auto'`` / ``lloyd_iters`` as in :func:`ivf_assignments`.
    """
    cents, assigns = ivf_assignments(emb, n_centroids, id_col, vec_col,
                                     lloyd_iters=lloyd_iters)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = (
        cents.select(
            "cid",
            (_dot(F.col("cvec"), q) / (_norm(F.col("cvec")) * _norm(q))).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cid").asc())
        .limit(n_probe)
        .select("cid")
    )
    cand = assigns.join(F.broadcast(probe), "cid")
    scored = cand.select(
        "vec_id",
        F.round(
            _dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q)), ROUND
        ).alias("sim"),
    )
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "sim")
    )


def lsh_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: prune to buckets within ``multiprobe_hamming`` of the
    query bucket, exact cosine re-rank inside. -> (rank, vec_id, sim).

    At 100 TB the embeddings table is written partitioned by bucket so this
    becomes partition pruning; here it is a codegen'd filter. Recall < 1.0
    by construction (tested ~recall vs brute force, not rank identity).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    qb = lsh_bucket(q, n_planes)
    cand = bucketed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(qb)) <= multiprobe_hamming
    )
    v = _vecd(F.col("v"))
    scored = cand.select(
        "vec_id", F.round(_dot(v, q) / (_norm(v) * _norm(q)), ROUND).alias("sim")
    )
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "sim")
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int | str = 16,
    tau: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space coarsely, then remove near-duplicates WITHIN each
    cluster only — the trick that makes semantic dedup tractable at web
    scale (cross-cluster pairs are never formed; the clustering bounds
    the quadratic term by the cluster size, not the corpus size).

    Clustering is the deterministic IVF coarse quantizer
    (:func:`ivf_assignments`: md5-seeded centroids, zero-exchange
    broadcast-argmax assignment, optional Lloyd refinement). Within a
    cluster, a vector is REMOVED when a smaller-id vector in the same
    cluster has cosine similarity >= ``tau`` with it (6dp-rounded before
    the threshold compare so both engines agree); SemDeDup's "keep the
    one farthest from the centroid" tiebreak is replaced by min-id —
    deterministic, oracle-expressible, and equivalent in dedup power
    (exactly one survivor per similarity clique's id-chain).

    Scale shape (100 TB): the only quadratic piece is the per-cluster
    self-join, bounded by occupancy — with ``n_centroids='auto'``
    (~sqrt(n)) expected occupancy is ~sqrt(n) per cluster, and
    ``bucket_cap`` hard-bounds pathological clusters exactly like the
    LSH paths (``dedup.cap_bucket_occupancy``: deterministic md5-ranked
    truncation, cap^2 worst case per cluster, audit via cap_bucket_
    occupancy directly). Assignment itself is exchange-free; the join
    shuffles on cid once per side.

    -> (vec_id, cid, keep), one row per input vector, ordered by vec_id.
    """
    from .dedup import cap_bucket_occupancy

    cents, asgn = ivf_assignments(
        emb, n_centroids, id_col, vec_col, lloyd_iters=lloyd_iters
    )
    sides = asgn.select("vec_id", "cid", "v")
    if bucket_cap is not None:
        sides = cap_bucket_occupancy(
            sides, ("cid",), bucket_cap, id_col="vec_id"
        )
    a = sides.select(
        F.col("vec_id").alias("a_id"), "cid", F.col("v").alias("va")
    )
    b = sides.select(
        F.col("vec_id").alias("b_id"), "cid", F.col("v").alias("vb")
    )
    va, vb = F.col("va"), F.col("vb")
    sim = F.round(_dot(va, vb) / (_norm(va) * _norm(vb)), ROUND)
    removed = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(sim >= F.lit(float(tau)))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    return (
        asgn.select("vec_id", "cid")
        .join(removed, "vec_id", "left")
        .select("vec_id", "cid", F.col("_rm").isNull().alias("keep"))
        .orderBy("vec_id")
    )


def ivf_write(
    emb: DataFrame,
    store_dir: str,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> None:
    """Materialize the IVF index as a PARTITIONED parquet store — the
    physical layout the ``ivf_assignments`` docstring promises for
    100 TB: ``<store_dir>/lists/cid=<c>/`` holds each inverted list as
    its own partition directory, ``<store_dir>/centroids/`` the (tiny)
    codebook. A probe then prunes to ``n_probe`` directories at the FILE
    LISTING level (Spark partition pruning — unselected lists are never
    opened, no task is scheduled for them), which is what turns IVF's
    "scan 2.5% of the corpus" math into 2.5% of the I/O, not just 2.5%
    of the compare work.

    Layout note: one shuffle on cid before the write packs each list
    into one file (inverted lists ARE cid-clustered data; at petabyte
    scale add a second in-list sort key, e.g. ``vec_id``, for row-group
    skipping inside a list).
    """
    cents, asgn = ivf_assignments(
        emb, n_centroids, id_col, vec_col, lloyd_iters=lloyd_iters
    )
    import os as _os

    (
        asgn.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(_os.path.join(store_dir, "lists"))
    )
    cents.write.mode("overwrite").parquet(_os.path.join(store_dir, "centroids"))


def ivf_probe(
    spark,
    store_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k against an :func:`ivf_write` store: -> (rank, vec_id, sim).

    The codebook is read driver-side (it is n_centroids rows — the same
    "centroids are tiny" asymmetry every IVF system exploits) and the
    ``n_probe`` nearest lists are chosen there, so the executor-side scan
    starts from a literal ``cid IN (...)`` predicate that Spark resolves
    during file listing: the plan's PartitionFilters prune unselected
    list directories before any task launches. Exact cosine re-rank
    inside the probed lists, then a TakeOrdered global top-k.

    Centroid scoring uses plain left-to-right Python float64 sums —
    bit-identical to the oracle's ``list_sum(list_transform(...))`` —
    so the probed set matches the SQL's (csim DESC, cid ASC) choice
    exactly.
    """
    import math as _math
    import os as _os

    import pyarrow.parquet as _pq

    ct = _pq.read_table(_os.path.join(store_dir, "centroids")).to_pylist()
    q = [float(x) for x in query_vec]
    nq = _math.sqrt(_sum_lr(x * x for x in q))

    def csim(cvec):
        dot = _sum_lr(a * b for a, b in zip(cvec, q))
        nc = _math.sqrt(_sum_lr(x * x for x in cvec))
        return dot / (nc * nq)

    probe = sorted(ct, key=lambda r: (-csim(r["cvec"]), r["cid"]))[:n_probe]
    cids = [int(r["cid"]) for r in probe]

    lists = spark.read.parquet(_os.path.join(store_dir, "lists"))
    cand = lists.filter(F.col("cid").isin(cids))
    qc = F.array(*[F.lit(x) for x in q])
    scored = cand.select(
        "vec_id",
        F.round(
            _dot(F.col("v"), qc) / (_norm(F.col("v")) * _norm(qc)), ROUND
        ).alias("sim"),
    )
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "sim")
    )


def _sum_lr(it) -> float:
    """Strict left-to-right float accumulation (no pairwise/SIMD
    reordering) — mirrors DuckDB's list_sum evaluation order."""
    acc = 0.0
    for x in it:
        acc += x
    return acc


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """Train PQ codebooks (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): split the vector into ``m`` contiguous
    subvectors and learn ``n_codes`` centroids PER SUBSPACE. Like the
    IVF coarse quantizer, centroids are the ``n_codes`` corpus rows with
    the smallest ``md5(vec_id)`` — a deterministic uniform sample (the
    k-means init without the iterations), bit-reproducible in the DuckDB
    oracle; Lloyd refinement composes the same way as
    :func:`ivf_assignments` if recall demands it.

    Requires a fixed dimension divisible by ``m`` (validated on the
    first row). -> (sub, code, svec): ``m * n_codes`` rows — KB-sized,
    broadcastable by construction.
    """
    first = emb.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_codebooks: empty input")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    sub_d = dim // m
    sample = (
        emb.select(
            _vecd(F.col(vec_col)).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("src_id"),
        )
        .orderBy("h", "src_id")
        .limit(n_codes)
        .select(
            (F.row_number().over(Window.orderBy("h", "src_id")) - 1).alias("code"),
            "v",
        )
    )
    subs = sample.select(
        "code",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("v"), s * sub_d + 1, sub_d),
            )
        ).alias("sub", "svec"),
    )
    cb = subs.select("sub", "code", "svec")
    # Subspace Lloyd refinement: unlike IVF-Flat (which re-ranks exactly,
    # so a sampled codebook only costs recall at tiny probe depths), PQ's
    # approximation IS the ranking — refined centroids are what make ADC
    # distances discriminative. Each iteration: one zero-exchange encode,
    # one corpus-sized join of subvectors to codes, then centroid-count-
    # sized element-wise means (empty cells keep their centroid).
    # lloyd_iters=0 stays bit-reproducible for the SQL oracle.
    for _ in range(lloyd_iters):
        codes = pq_encode(emb, cb, m=m, id_col=id_col, vec_col=vec_col)
        vsubs = emb.select(
            F.col(id_col).alias("vec_id"), _vecd(F.col(vec_col)).alias("v")
        ).select(
            "vec_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.slice(F.col("v"), s * sub_d + 1, sub_d),
                )
            ).alias("sub", "vs"),
        )
        assigned = vsubs.join(codes, "vec_id").select(
            "sub",
            F.element_at("codes", F.col("sub") + 1).alias("code"),
            "vs",
        )
        sums = (
            assigned.select("sub", "code", F.posexplode("vs").alias("d", "x"))
            .groupBy("sub", "code", "d")
            .agg(F.avg("x").alias("mn"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("d", "mn"))).alias("dm"))
            .select(
                "sub", "code", F.expr("transform(dm, s -> s.mn)").alias("new")
            )
        )
        nxt = (
            cb.join(sums, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("new", "svec").alias("svec"))
            .localCheckpoint()
        )
        cb.unpersist()
        cb = nxt
    return cb


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` one-byte-ish codes: per subspace,
    the code of the nearest centroid by SQUARED L2 (the classic PQ
    metric; ties -> smaller code). A 768-dim float32 vector (3 KB)
    becomes ``m`` small ints — the ~100-700x compression that lets
    10^12 vectors sit in RAM-speed storage.

    Scale shape: codebooks collapse to ONE broadcast row (a sub-major
    sorted array of (sub, code, svec) structs) and encoding is a single
    codegen'd projection — zero exchanges over the corpus, same pattern
    as the IVF assignment. -> (vec_id, codes: array<int>).
    """
    first = emb.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_encode: empty input")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m={m}")
    sub_d = dim // m
    carr = codebooks.agg(
        F.sort_array(
            F.collect_list(F.struct("sub", "code", "svec"))
        ).alias("carr")
    )

    def best_code(s):
        """Argmin squared-L2 code for subspace s (0-based Column)."""
        sv = F.slice(F.col("v"), s * sub_d + 1, sub_d)

        def step(acc, c):
            d2 = F.aggregate(
                F.zip_with(sv, c["svec"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            use = (c["sub"] == s) & (
                (d2 < acc["d2"]) | acc["code"].isNull()
            )
            return F.when(
                use, F.struct(c["code"].alias("code"), d2.alias("d2"))
            ).otherwise(acc)

        init = F.struct(
            F.lit(None).cast("int").alias("code"),
            F.lit(float("inf")).alias("d2"),
        )
        return F.aggregate(F.col("carr"), init, step)["code"]

    return (
        emb.select(
            F.col(id_col).alias("vec_id"), _vecd(F.col(vec_col)).alias("v")
        )
        .crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            F.array(*[best_code(F.lit(s)) for s in range(m)]).alias("codes"),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_pool: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, each database vector is its reconstruction from the
    codebooks, and the distance is sum over subspaces of
    ||q_s - centroid(code_s)||^2 — computed from an ``m x n_codes``
    lookup table built ONCE per query.

    Scale shape: encode is the zero-exchange projection above; the
    per-query distance table is tiny and broadcast; scoring is one
    in-row array lookup per subspace + TakeOrdered top-k. Approximate
    by construction (quantization error) — rank parity is tested
    against the oracle's identical reconstruction, not against exact
    cosine. -> (rank, vec_id, adist).
    """
    codes = pq_encode(emb, codebooks, m, id_col, vec_col)
    return _adc_rank(
        codes, codebooks, emb, query_vec, k, m, id_col, vec_col, rerank_pool
    )


def _adc_rank(
    codes: DataFrame,
    codebooks: DataFrame,
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    m: int,
    id_col: str,
    vec_col: str,
    rerank_pool: int | None,
) -> DataFrame:
    q = [float(x) for x in query_vec]
    dim = len(q)
    sub_d = dim // m
    qsub = [q[s * sub_d:(s + 1) * sub_d] for s in range(m)]
    # distance table: (sub, code) -> ||q_sub - centroid||^2, built as a
    # DataFrame so the arithmetic is the same JVM ops as encoding
    qarr = F.array(*[F.array(*[F.lit(x) for x in qs]) for qs in qsub])
    dtab = codebooks.select("sub", "code", "svec").select(
        "sub",
        "code",
        F.aggregate(
            F.zip_with(
                F.col("svec"),
                F.element_at(qarr, F.col("sub") + 1),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d2"),
    )
    tab = dtab.agg(
        F.sort_array(F.collect_list(F.struct("sub", "code", "d2"))).alias("tab")
    )
    scored = (
        codes.crossJoin(F.broadcast(tab))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.col("tab"),
                    F.lit(0.0),
                    lambda a, t: a
                    + F.when(
                        F.element_at(F.col("codes"), t["sub"] + 1) == t["code"],
                        t["d2"],
                    ).otherwise(F.lit(0.0)),
                ),
                ROUND,
            ).alias("adist"),
        )
    )
    if rerank_pool:
        # IVFADC-R (Jégou §V): the ADC pass is a SHORTLIST generator —
        # top-``rerank_pool`` by approximate distance, then exact cosine
        # on only those rows (a k-bounded semi-join back to the vectors).
        # This is the deployed configuration: ADC-only ordering cannot
        # separate neighbors closer than the quantization cell size.
        short = (
            scored.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
            .limit(int(rerank_pool))
            .select("vec_id")
        )
        qc = F.array(*[F.lit(x) for x in q])
        v = _vecd(F.col(vec_col))
        exact = (
            emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
            .join(F.broadcast(short), "vec_id")
            .select(
                "vec_id",
                F.round(
                    _dot(F.col("v"), qc) / (_norm(F.col("v")) * _norm(qc)),
                    ROUND,
                ).alias("sim"),
            )
        )
        w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        return (
            exact.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "sim")
        )
    w = Window.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "adist")
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_lloyd_iters: int = 0,
    rerank_pool: int | None = None,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §IV, the IVFADC system): the layout
    that serves 10^12-vector ANN — a coarse IVF quantizer prunes the
    corpus to ``n_probe`` inverted lists, and within them distances are
    approximated from per-RESIDUAL PQ codes (residual = vector minus its
    assigned centroid — quantizing residuals, not raw vectors, is what
    makes the codebooks sharp enough after coarse clustering).

    Composition of the proven pieces: :func:`ivf_assignments` (broadcast
    argmax, zero exchanges) -> residual projection (in-row zip_with) ->
    :func:`pq_codebooks` / :func:`pq_encode` on the residuals -> a
    per-query (cid, sub, code) distance table over the probed lists
    (n_probe * m * n_codes rows, broadcast) -> in-row table lookups +
    TakeOrdered top-k. At rest a store holds only (vec_id, cid, codes):
    ~(8 + m) bytes per vector vs 4*dim — with the ``ivf_write``
    partitioned layout the probe reads n_probe directories of codes.

    -> (rank, vec_id, adist), ascending approximate squared L2 (or
    (rank, vec_id, sim) with ``rerank_pool``).

    For repeated queries use :func:`ivf_pq_build` once +
    :func:`ivf_pq_query` per query — this wrapper retrains the whole
    index per call (correct, but build cost dominates).
    """
    return ivf_pq_query(
        ivf_pq_build(
            emb, n_centroids=n_centroids, m=m, n_codes=n_codes,
            id_col=id_col, vec_col=vec_col, pq_lloyd_iters=pq_lloyd_iters,
            materialize=False,
        ),
        query_vec, k=k, n_probe=n_probe, rerank_pool=rerank_pool,
    )


def ivf_pq_build(
    emb: DataFrame,
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_lloyd_iters: int = 0,
    materialize: bool = True,
) -> dict:
    """Train the IVF-PQ index once: coarse centroids, residual codebooks,
    per-vector codes. Returns the index handle dict that
    :func:`ivf_pq_query` serves from; with ``materialize=True`` the three
    tables are localCheckpointed so repeated queries reuse the computed
    codes instead of re-deriving the lineage (at cluster scale, persist
    the codes table with ``ivf_write``-style ``partitionBy(cid)``)."""
    cents, assigns = ivf_assignments(emb, n_centroids, id_col, vec_col)
    res = assigns.join(F.broadcast(cents), "cid").select(
        "vec_id",
        "cid",
        F.zip_with("v", "cvec", lambda x, y: x - y).alias("rv"),
    )
    cb = pq_codebooks(
        res, m=m, n_codes=n_codes, id_col="vec_id", vec_col="rv",
        lloyd_iters=pq_lloyd_iters,
    )
    codes = pq_encode(res, cb, m=m, id_col="vec_id", vec_col="rv").join(
        res.select("vec_id", "cid"), "vec_id"
    )
    if materialize:
        cents = cents.localCheckpoint()
        cb = cb.localCheckpoint()
        codes = codes.localCheckpoint()
    return {
        "cents": cents, "cb": cb, "codes": codes, "emb": emb,
        "m": m, "id_col": id_col, "vec_col": vec_col,
    }


def ivf_pq_query(
    index: dict,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    rerank_pool: int | None = None,
) -> DataFrame:
    """Serve one query from an :func:`ivf_pq_build` handle (see
    :func:`ivf_pq_topk` for the algorithm)."""
    cents, cb, codes = index["cents"], index["cb"], index["codes"]
    emb, m = index["emb"], index["m"]
    id_col, vec_col = index["id_col"], index["vec_col"]
    q = [float(x) for x in query_vec]
    dim = len(q)
    sub_d = dim // m
    qc = F.array(*[F.lit(x) for x in q])
    probe = (
        cents.select(
            "cid",
            "cvec",
            (_dot(F.col("cvec"), qc) / (_norm(F.col("cvec")) * _norm(qc))).alias(
                "csim"
            ),
        )
        .orderBy(F.col("csim").desc(), F.col("cid").asc())
        .limit(n_probe)
        .select("cid", "cvec")
    )
    qr = probe.select(
        "cid", F.zip_with(qc, F.col("cvec"), lambda x, y: x - y).alias("qr")
    )
    dtab = qr.crossJoin(cb).select(
        "cid",
        "sub",
        "code",
        F.aggregate(
            F.zip_with(
                F.slice(F.col("qr"), F.col("sub") * sub_d + 1, sub_d),
                F.col("svec"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d2"),
    )
    tab = dtab.agg(
        F.sort_array(F.collect_list(F.struct("cid", "sub", "code", "d2"))).alias(
            "tab"
        )
    )
    scored = (
        codes.join(F.broadcast(probe.select("cid")), "cid")
        .crossJoin(F.broadcast(tab))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.col("tab"),
                    F.lit(0.0),
                    lambda a, t: a
                    + F.when(
                        (t["cid"] == F.col("cid"))
                        & (
                            F.element_at(F.col("codes"), t["sub"] + 1)
                            == t["code"]
                        ),
                        t["d2"],
                    ).otherwise(F.lit(0.0)),
                ),
                ROUND,
            ).alias("adist"),
        )
    )
    if rerank_pool:
        # IVFADC-R: ADC shortlist from the probed lists, exact cosine on
        # only the shortlist rows (same contract as pq_adc_topk)
        short = (
            scored.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
            .limit(int(rerank_pool))
            .select("vec_id")
        )
        v = _vecd(F.col(vec_col))
        exact = (
            emb.select(F.col(id_col).alias("vec_id"), v.alias("ev"))
            .join(F.broadcast(short), "vec_id")
            .select(
                "vec_id",
                F.round(
                    _dot(F.col("ev"), qc) / (_norm(F.col("ev")) * _norm(qc)),
                    ROUND,
                ).alias("sim"),
            )
        )
        w = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        return (
            exact.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "sim")
        )
    w = Window.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("adist").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "adist")
    )
