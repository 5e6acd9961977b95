"""phash Hamming-ball candidate generation + exact verification (P8).

Pigeonhole blocks: to find all pairs within Hamming distance r of a 64-bit
phash, split the 64 bits into r+1 disjoint blocks — any pair within
distance r agrees exactly on at least one block (pigeonhole), so grouping
on (block_id, block_bits) finds every candidate with zero recall loss.

The block rows cross ONE exchange on (block, key) and are paired where
they land by the group-pairs Arrow kernel (operators/group_pairs.py): each
block's members pair up, and a numpy popcount of the XOR'd phashes keeps
the pairs within the radius — the exact verify runs in the same batch that
builds the pair.  Degenerate keys (e.g. the all-zero phash of blank
images) are capped like LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.operators.group_pairs import block_emitter, pair_groups


def phash_blocks(
    df: DataFrame, id_col: str = "image_id", phash_col: str = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, phash, block, key): r+1 pigeonhole blocks per row."""
    nblocks = cfg.hamming_radius + 1
    width = cfg.phash_bits // nblocks
    keys = []
    for i in range(nblocks):
        shift = i * width
        w = width if i < nblocks - 1 else cfg.phash_bits - shift
        mask = (1 << w) - 1
        keys.append(F.shiftrightunsigned(F.col(phash_col), shift).bitwiseAND(F.lit(mask)))
    return df.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        F.posexplode(F.array(*keys)).alias("block", "key"),
    )


def phash_pairs(
    df: DataFrame, id_col: str = "image_id", phash_col: str = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG, block_cap: int = 10_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct (src, dst, hamming) pairs with Hamming(phash) <= radius.

    ONE exchange of the (id, ph, block, key) rows on (block, key) into
    `num_partitions` (a data-sized floor, as in lsh.candidate_pairs), then
    the group-pairs kernel: blocks of one row or above `block_cap` emit
    nothing, the rest emit their member pairs in batches of at most 2^20,
    each with its popcount Hamming distance, kept when within
    cfg.hamming_radius.  A null phash never pairs (its distance is null),
    so its rows are dropped before the exchange."""
    blocks = phash_blocks(df, id_col, phash_col, cfg).filter(F.col("ph").isNotNull())
    id_type = blocks.schema["id"].dataType
    return pair_groups(
        blocks, ["block", "key"], block_emitter(cfg.hamming_radius),
        T.StructType([
            T.StructField("src", id_type), T.StructField("dst", id_type),
            T.StructField("hamming", T.IntegerType()),
        ]),
        cap=block_cap, num_partitions=num_partitions,
    ).dropDuplicates(["src", "dst"])
