"""Exact-Jaccard verification of candidate pairs (P7).

Candidates are joined back to their texts (two hash joins on the id) and
verified by an Arrow UDF: both sides go through minhash.signature_batch for
their shingle sets, and |a ∩ b| / |a ∪ b| falls out of one sort of the two
sides' sets together.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.operators.minhash import _row_sets, signature_batch


def _jaccard_sets(a: pa.ListArray, b: pa.ListArray) -> np.ndarray:
    """Per-row Jaccard of two shingle-set columns (signature_batch's
    `shingles`: every row deduped and non-empty).  |A ∪ B| is the row's
    distinct count over both sides (one _row_sets pass) and
    |A ∩ B| = |A| + |B| - |A ∪ B|, so the sort is the kernel's whole cost."""
    n = len(a)
    la, lb = np.diff(np.asarray(a.offsets)), np.diff(np.asarray(b.offsets))
    rows = np.repeat(np.tile(np.arange(n, dtype=np.int64), 2), np.concatenate([la, lb]))
    vals = np.concatenate([np.asarray(a.values), np.asarray(b.values)]).view(np.uint64)
    union = np.bincount(_row_sets(vals, rows, n)[1], minlength=n)
    return (la + lb - union) / union


def _make_text_jaccard_udf(cfg: DedupConfig, normalized: bool = False):
    @F.arrow_udf(T.DoubleType())
    def text_jaccard(a: pa.Array, b: pa.Array) -> pa.Array:
        j = _jaccard_sets(*(
            signature_batch(t, cfg, normalized, {"shingles"})["shingles"] for t in (a, b)
        ))
        j[~(a.is_valid().to_numpy(zero_copy_only=False)
            & b.is_valid().to_numpy(zero_copy_only=False))] = 0.0
        return pa.array(j, type=pa.float64())

    return text_jaccard


def verify_jaccard_text(
    pairs: DataFrame,
    texts: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    assume_normalized: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src, dst, jaccard) for pairs with exact Jaccard >= cfg.jaccard_tau.
    Joins the candidate pairs back to the text and recomputes shingle sets
    inside the UDF — candidates are a tiny fraction of rows, so shipping
    ~150-byte captions for them beats materializing ~1 KB shingle arrays
    for EVERY row upstream.  A null text on either side scores 0.0.

    `num_partitions` sizes the hash-join exchanges to the DATA (pipeline
    derives it from the gated row count): both the pair relation and the
    text relation grow with the corpus, and their SHUFFLE_HASH builds must
    stay bounded per task regardless of the session conf."""
    t = texts.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    left = t.select(F.col("id").alias("src"), F.col("txt").alias("txt_src"))
    right = t.select(F.col("id").alias("dst"), F.col("txt").alias("txt_dst"))
    if num_partitions is not None:
        pairs = pairs.repartition(num_partitions, "src")
        left = left.repartition(num_partitions, "src")
        right = right.repartition(num_partitions, "dst")
    # hash joins (no sort): sort-merge would order the full text relation
    # twice just to fetch candidate texts; hint the fixed-width text
    # relation for the second join — the pairs-with-texts intermediate can
    # be the larger side and each of its rows already carries txt_src
    joined = pairs.hint("SHUFFLE_HASH").join(left, "src").join(right.hint("SHUFFLE_HASH"), "dst")
    udf = _make_text_jaccard_udf(cfg, normalized=assume_normalized)
    out = joined.withColumn("jaccard", udf(F.col("txt_src"), F.col("txt_dst")))
    return out.filter(F.col("jaccard") >= F.lit(cfg.jaccard_tau)).select(
        "src", "dst", "jaccard"
    )
