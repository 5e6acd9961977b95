"""phash Hamming-ball candidate generation + exact verification (P8).

Pigeonhole blocks: to find all pairs within Hamming distance r of a 64-bit
phash, split the 64 bits into r+1 disjoint blocks — any pair within
distance r agrees exactly on at least one block (pigeonhole), so grouping
on (block_id, block_bits) finds every candidate with zero recall loss.

The block rows are built in numpy inside the pack task (`block_rows`: r+1
shifts and masks of the phash column, no JVM explode), cross ONE packed
exchange on (block, key) and are paired where they land by the
group-pairs Arrow kernel (operators/group_pairs.py): each block's members
pair up, and a numpy popcount of the XOR'd phashes keeps the pairs within
the radius — the exact verify runs in the same batch that builds the
pair.  Degenerate keys (e.g. the all-zero phash of blank images) are
capped like LSH buckets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.operators.group_pairs import block_emitter, pair_groups


def block_rows(cfg: DedupConfig = DEFAULT_CONFIG):
    """The pack batch function: (id, ph, block, key) — r+1 pigeonhole
    blocks per (id, ph) row, block i holding bits [i*w, i*w + w) of the
    phash (the last block takes the remaining bits).  A null phash never
    pairs (its distance is null), so its row has no blocks."""
    nblocks = cfg.hamming_radius + 1
    width = cfg.phash_bits // nblocks
    shifts = np.arange(nblocks, dtype=np.uint64) * np.uint64(width)
    masks = np.array(
        [(1 << (width if i < nblocks - 1 else cfg.phash_bits - i * width)) - 1
         for i in range(nblocks)],
        dtype=np.uint64,
    )

    def rows(batch: pa.RecordBatch) -> pa.Table:
        if batch.column("ph").null_count:
            batch = batch.filter(batch.column("ph").is_valid())
        ph = batch.column("ph").to_numpy()
        keys = (ph.view(np.uint64)[:, None] >> shifts) & masks
        row = np.repeat(np.arange(len(ph), dtype=np.int64), nblocks)
        return pa.table({
            "id": batch.column("id").take(row),
            "ph": ph[row],
            "block": np.tile(np.arange(nblocks, dtype=np.int32), len(ph)),
            "key": keys.reshape(-1).view(np.int64),
        })

    return rows


def phash_pairs(
    df: DataFrame, id_col: str = "image_id", phash_col: str = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG, block_cap: int = 10_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct (src, dst, hamming) pairs with Hamming(phash) <= radius.

    ONE packed exchange of the (id, ph, block, key) rows (`block_rows`,
    built in the pack task) on (block, key) into `num_partitions` (a
    data-sized floor, as in lsh.candidate_pairs), then the group-pairs
    kernel: blocks of one row or above `block_cap` emit nothing, the rest
    emit their member pairs in batches of at most 2^20, each with its
    popcount Hamming distance, kept when within cfg.hamming_radius."""
    base = df.select(F.col(id_col).alias("id"), F.col(phash_col).cast("long").alias("ph"))
    id_type = base.schema["id"].dataType
    return pair_groups(
        base, block_rows(cfg), ["block", "key"], block_emitter(cfg.hamming_radius),
        T.StructType([
            T.StructField("src", id_type), T.StructField("dst", id_type),
            T.StructField("hamming", T.IntegerType()),
        ]),
        cap=block_cap, num_partitions=num_partitions,
    ).dropDuplicates(["src", "dst"])
