"""Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
arXiv:1508.07909) — the tokenizer-training step of an LLM data pipeline,
run over the corpus's word-frequency table with Spark doing every count.

The reference engine has no tokenizer-training surface (its analyzer is
fixed, ``/root/reference/src/search/mod.rs`` tokenizer setup); this is a
training-data-pipeline extension like the dedup/curation operators.

Algorithm (classic word-level BPE, no end-of-word marker — documented
deviation, the marker is a one-line change to ``_initial_segments``):

1. word frequencies: ONE map-side-combined count — the only pass over
   the corpus. Everything after runs on the VOCABULARY (distinct words),
   which is ~10^8-10^9 rows for 100 TB of web text: still a DataFrame,
   never collected.
2. per merge step: adjacent symbol pairs form IN-ROW (array transform,
   zero exchanges), one weighted count keyed by pair, and the argmax
   pair comes back as ONE driver row (``orderBy().limit(1)`` =
   TakeOrdered, not a sort). The merge applies as an in-row
   ``aggregate`` over each word's symbol array (greedy left-to-right,
   non-overlapping — the standard semantics), and a ``localCheckpoint``
   cuts the per-iteration lineage exactly like the Lloyd loop in
   ``similarity.ivf_assignments``.

Determinism: ties break (count DESC, left ASC, right ASC); no RNG
anywhere, so the merge list is reproducible bit-for-bit (the pytest
oracle is an independent pure-Python implementation).

``n_merges`` driver round-trips of one row each is the honest cost of
the inherently sequential algorithm; real tokenizer trainings run
10k-100k merges, i.e. 10k-100k vocabulary-sized jobs — batch several
merges per pass (the standard optimization) before attempting that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from search_engine_spark.pipelines.dedup import tokens_col


def _initial_segments(word_col: str) -> Column:
    """word column (by name) -> array of single-character symbols."""
    return F.expr(
        f"transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, i, 1))"
    )


def _pairs() -> Column:
    """Adjacent symbol pairs of the ``sym`` segment array, in-row."""
    return F.expr(
        "CASE WHEN size(sym) >= 2 THEN "
        "transform(sequence(1, size(sym) - 1), "
        "i -> struct(sym[i-1] AS l, sym[i] AS r)) "
        "ELSE CAST(array() AS array<struct<l:string,r:string>>) END"
    )


def _apply_merge(left: str, right: str) -> Column:
    """Replace every non-overlapping (left, right) adjacency in ``sym``
    with the concatenated symbol, greedy left-to-right."""
    lc, rc = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        F.col("sym"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lc)
            & (x == rc),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe(
    df: DataFrame,
    n_merges: int = 10,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus (see module doc).

    Stops early when the best remaining pair's weighted count drops
    below ``min_pair_count``. -> (rank, left, right, pair_count),
    rank 1 = first (most frequent) merge.
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    seg = words.select("w", "wc", _initial_segments("w").alias("sym"))
    seg = seg.localCheckpoint()

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(n_merges) + 1):
        best = (
            seg.select("wc", F.explode(_pairs()).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, l, r, cnt))
        # at cluster scale swap localCheckpoint for checkpoint() to
        # reliable storage (same contract as the Lloyd loop)
        new = seg.withColumn("sym", _apply_merge(l, r)).localCheckpoint()
        seg.unpersist()
        seg = new
    seg.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment every document's tokens with a learned merge list (applied
    in rank order — BPE inference). Pure in-row projection: zero
    exchanges, embarrassingly parallel at any corpus size.

    -> (doc_id, pieces: array<string>) — the flattened piece sequence of
    the doc's tokens, plus ``n_pieces`` for quick token-budget math.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("t")
    )
    per_word = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "w")
    ).select("doc_id", "pos", _initial_segments("w").alias("sym"))
    for l, r in merges:
        per_word = per_word.withColumn("sym", _apply_merge(l, r))
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "sym"))
                    ),
                    lambda s: s["sym"],
                )
            ).alias("pieces")
        )
        .select("doc_id", "pieces", F.size("pieces").alias("n_pieces"))
    )
