"""Exact-substring caption containment (P9).

Two implementations of "caption A is an exact substring of caption B":

1. `containment_pairs` (primary, shuffle-friendly): anchor-gram grouping
   over UTF-8 bytes.  A ⊆ B implies A's first g bytes occur as some g-byte
   gram of B.  So: build every document's strided g-gram hashes (O(total
   bytes / stride) rows) and each candidate contained caption's leading
   g-gram hashes in numpy inside the pack task (`anchor_rows`, reading the
   string buffers as minhash.signature_batch does), exchange both ONCE,
   packed, on the gram hash, and pair probes with grams inside each anchor
   group with the group-pairs Arrow kernel (operators/group_pairs.py) —
   the list-crosscutting of LCJoin applied per group.  Each kept pair
   carries the exact byte offset of the alignment, which a native hash
   verify and an exact byte confirm check.  This is the suffix-array idea
   re-expressed as distributed grouping: the anchor gram plays the role of
   the suffix-array lookup of A's prefix among B's suffixes, with exact
   verification replacing the LCP walk.  No quadratic blow-up, no global
   sort.

   Bytes, not characters: UTF-8 is self-synchronizing, so a valid UTF-8
   string A occurs in B as bytes exactly when it occurs as characters, and
   the pair set is the character-level one.  A probe is still admitted by
   its CHARACTER length (>= min_contained_len >= g + s - 1, hence at least
   g + s - 1 bytes).  `anchor_cap` counts an anchor's byte-gram rows,
   which on non-ASCII text are more than its character grams were.

2. `suffix_array_containment_partition` (reference-style kernel): a
   per-partition suffix array built in numpy inside applyInPandas after
   range-partitioning suffix keys — kept as a tested alternative and a
   cross-check at small scale.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.operators.group_pairs import anchor_emitter, pair_groups
from jsonschema_jl_spark.operators.minhash import (
    _shingle_flat_from_buffer, arrow_bytes, normalize_udf,
)


def anchor_rows(g: int, s: int):
    """The pack batch function over (id, txt, h1) rows whose texts hold at
    least g + s - 1 bytes: (key, id, len, pos, h1, is_gram) rows.

    Every text yields s probe rows — its g-byte grams at byte positions
    1..s, carrying its h1 — and one gram row per stride position 1, 1+s,
    1+2s, ... up to len - g + 1 (h1 = 0: a sentinel, never null).  `len`
    is the text's byte length, `pos` the gram's 1-based byte position and
    `key` the gram's _shingle_flat_from_buffer hash."""

    def rows(batch: pa.RecordBatch) -> pa.Table:
        data, off = arrow_bytes(batch.column("txt"))
        lens = np.diff(off)
        n = len(lens)
        h, _ = _shingle_flat_from_buffer(data[off[0]:off[-1]], lens, g)
        windows = lens - (g - 1)
        first = np.cumsum(windows) - windows  # each row's first window in h
        n_gram = (windows - 1) // s + 1
        g_row = np.repeat(np.arange(n, dtype=np.int64), n_gram)
        g_pos = (np.arange(len(g_row)) - np.repeat(np.cumsum(n_gram) - n_gram, n_gram)) * s
        p_row = np.repeat(np.arange(n, dtype=np.int64), s)
        p_pos = np.tile(np.arange(s, dtype=np.int64), n)
        row = np.concatenate([p_row, g_row])
        pos = np.concatenate([p_pos, g_pos])
        h1 = batch.column("h1").to_numpy()
        return pa.table({
            "key": h[first[row] + pos].view(np.int64),
            "id": batch.column("id").take(row),
            "len": lens[row].astype(np.int32),
            "pos": (pos + 1).astype(np.int32),
            "h1": np.concatenate([h1[p_row], np.zeros(len(g_row), np.int64)]),
            "is_gram": np.arange(len(row)) >= len(p_row),
        })

    return rows


def containment_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    anchor_cap: int = 10_000,
    assume_normalized: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src, dst) with normalized src caption a strict substring of dst's.

    src/dst ordering: src is the contained (shorter) caption.
    assume_normalized=True takes text_col as already normalize_text'd —
    the pipeline normalizes once into its persisted projection, and this
    DataFrame is referenced three times below (the packed anchors and both
    text fetches), so skipping re-normalization here avoids three extra
    full string passes at scale."""
    g = cfg.anchor_gram
    s = cfg.anchor_stride
    assert cfg.min_contained_len >= g + s - 1, "stride must fit the shortest probe"
    txt = F.col(text_col) if assume_normalized else normalize_udf(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), txt.alias("txt")).filter(
        F.length("txt") >= cfg.min_contained_len
    )

    # Sparse-anchor scheme (winnowing-style, EXACT): the container emits
    # g-byte grams only at byte positions 1, 1+s, 1+2s, ...; the probe
    # emits its first s grams.  If A occurs in B at byte offset o, A's gram
    # at position p (1<=p<=s) lands at container position o+p-1, and
    # exactly one p puts that on the container's stride grid — so every
    # true containment survives with s*fewer container rows.
    #
    # Round-5 redesign (found by the 10x stress draw): candidate rows are
    # FIXED-WIDTH.  On window-sharing corpora the candidate count grows
    # ~quadratically with the corpus (measured 1.29e9 candidates from 6.5M
    # template-generated captions with NO key above the anchor cap —
    # window-frequency capping would have dropped 39-72% of probes,
    # unacceptable recall), so the old shape — fetch both texts per
    # candidate, verify with instr — shipped hundreds of GB of caption
    # bytes.  Instead both sides carry POSITIONS and the probe carries a
    # full-text hash h1 (xxhash64, computed here once per text before the
    # pack): a key match derives the exact alignment offset o = pos_b - p +
    # 1, the container-side verify recomputes xxhash64 of the container's
    # bytes at that offset with ONE corpus-sized text exchange (probe text
    # never moves), and only the hash-matched minority fetches the probe
    # text for the exact byte-equality confirm — containment is EXACT,
    # never hash-trusted.
    #
    # The probe and gram rows are built by `anchor_rows` in the pack task
    # and cross ONE packed exchange on the key: an anchor group pairs its
    # probes with its grams — anchors whose gram count is above anchor_cap
    # (e.g. a ubiquitous phrase) emit nothing — and keeps a pair only if
    # the derived offset places the shorter probe inside its container (id
    # != id_b).  Candidates stay FIXED-WIDTH (id, id_b, o, len, h1); the
    # exchange is sized to the DATA by `num_partitions`: an anchor group's
    # rows are one task's state.
    id_type = base.schema["id"].dataType
    cand = pair_groups(
        base.select("id", "txt", F.xxhash64("txt").alias("h1")), anchor_rows(g, s),
        ["key"], anchor_emitter,
        T.StructType([
            T.StructField("id", id_type), T.StructField("id_b", id_type),
            T.StructField("o", T.IntegerType()), T.StructField("len", T.IntegerType()),
            T.StructField("h1", T.LongType()),
        ]),
        cap=anchor_cap, num_partitions=num_partitions, gram_col="is_gram",
    )
    # both text sides as UTF-8 bytes: `o` and `len` are byte offsets, and
    # xxhash64 hashes a string and its binary cast alike
    b = base.select(F.col("id").alias("id_b2"), F.col("txt").cast("binary").alias("txt_b"))
    a = base.select(F.col("id"), F.col("txt").cast("binary").alias("txt"))
    if num_partitions is not None:
        # the container-text side pins the (data-derived) partition count;
        # the candidate side co-partitions to match.  Hash-join BUILD sides
        # are the TEXT relations (bounded per task: ~50k texts x ~300 B),
        # NEVER the candidate relation — building candidates blew the
        # 512 MB per-task grant in the 10x stress draw.
        b = b.repartition(num_partitions, "id_b2")
        a = a.repartition(num_partitions, "id")
    # container-side hash verify: ONE corpus-sized text exchange total;
    # candidates cross as 40-byte rows.  The hash-matched minority (true
    # pairs + ~n*2^-64 collisions) then fetches the probe text for the
    # exact equality confirm at the derived offset.
    hashed = (
        cand.join(b.hint("SHUFFLE_HASH"), cand.id_b == b.id_b2)
        .filter(F.expr("xxhash64(substring(txt_b, o, len))") == F.col("h1"))
        .select("id", "id_b", "o", "len", "txt_b")
    )
    # dedup only AFTER the exact confirm: deduping on the hash-matched set
    # could (at 2^-64 odds) keep a colliding offset and discard the true
    # one — the final pair set must never depend on a hash
    return (
        hashed.join(a.hint("SHUFFLE_HASH"), "id")
        .filter(F.expr("substring(txt_b, o, len)") == F.col("txt"))
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


_SUFFIX_OUT = "src string, dst string"


def suffix_array_containment(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    num_ranges: int | None = None,
    max_contained_len: int | None = None,
) -> DataFrame:
    """Reference-style distributed suffix-array pass.

    ADMISSION BOUND (SCALE.md round 6): this kernel is the small-scale
    CROSS-CHECK for `containment_pairs`, not an alternative at scale — the
    per-probe searchsorted loop is row-at-a-time inside each range
    partition and exploded-suffix volume is O(total_chars *
    max_contained_len) bytes.  Use up to ~10^6 documents at cap 1024;
    beyond that, `containment_pairs` is the only supported path.

    Suffix keys are range-partitioned on their leading anchor_gram chars;
    each partition lexsorts its suffixes into a suffix array and resolves
    every probe with two `np.searchsorted` calls — a suffix starts with
    probe P iff it sorts inside [P, P + U+10FFFF), so the prefix walk is the
    classic suffix-array range lookup, not a scan.  Containment pairs whose
    anchor falls in the partition's key range are emitted exactly once (an
    anchor lives in one range).

    Scale bounds: suffixes are truncated to `max_contained_len` chars at the
    explode (prefix containment never inspects more of a suffix than the
    longest probe), so exploded byte volume is O(total_chars * C) instead of
    the O(total_chars^2) of full suffixes, and suffix rows carry the
    container's LENGTH, not its text; suffixes shorter than
    cfg.min_contained_len cannot contain any probe and are dropped.  The cap
    defaults to cfg.max_contained_len — a CONFIG constant, not a driver agg
    over the data, so one pathological 1 MB document can never inflate the
    explode for the whole corpus (it is simply not eligible as the contained
    side; choose a cap >= the data's max text length for exact parity with
    `containment_pairs`, as the contract queries do).

    Parallelism: with num_ranges=None the range count scales with the input
    (ceil(rows / docs_per_range), docs_per_range itself shrinking as the cap
    grows since exploded bytes are ~rows * avg_len * cap), clamped to
    [8, 4096] — one metadata-cheap count(), no data collect()."""
    g = cfg.anchor_gram
    cap = int(max_contained_len if max_contained_len is not None else cfg.max_contained_len)
    base = df.select(
        F.col(id_col).alias("id"), normalize_udf(F.col(text_col)).alias("txt")
    ).filter(F.length("txt") >= cfg.min_contained_len)

    if num_ranges is None:
        # ~6.4 GB of exploded (truncated) suffix bytes per range at
        # avg_len~300: docs_per_range * avg_len * cap; the constant keeps a
        # 50k-doc corpus at cap=128 in 8 ranges and a 10M-doc corpus at
        # cap=1024 in ~1280
        docs_per_range = max(2_000, (50_000 * 128) // max(cap, 1))
        num_ranges = int(min(4096, max(8, math.ceil(df.count() / docs_per_range))))

    suffixes = (
        base.select(
            "id",
            F.length("txt").cast("long").alias("txt_len"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(txt)), i -> substr(txt, i, {cap}))"
                )
            ).alias("suffix"),
        )
        .filter(F.length("suffix") >= cfg.min_contained_len)
        .withColumn("anchor", F.substring("suffix", 1, g))
    )
    probes = (
        base.filter(F.length("txt") <= cap)
        .select("id", F.col("txt").alias("ptxt"))
        .withColumn("anchor", F.substring("ptxt", 1, g))
    )

    tagged = suffixes.select(
        "anchor", "id", "txt_len", "suffix", F.lit(None).cast("string").alias("ptxt")
    ).unionByName(
        probes.select(
            "anchor", "id", F.lit(None).cast("long").alias("txt_len"),
            F.lit(None).cast("string").alias("suffix"), "ptxt",
        )
    )

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        suf = pdf[pdf["suffix"].notna()]
        prb = pdf[pdf["ptxt"].notna()]
        if not len(suf) or not len(prb):
            return pd.DataFrame({"src": [], "dst": []}, dtype=object)
        sarr = suf["suffix"].to_numpy()
        order = np.argsort(sarr)
        sarr = sarr[order]
        sids = suf["id"].to_numpy()[order]
        slens = suf["txt_len"].to_numpy()[order]
        srcs: list = []
        dsts: list = []
        for pid, ptxt in zip(prb["id"].to_numpy(), prb["ptxt"].to_numpy()):
            lo = np.searchsorted(sarr, ptxt, side="left")
            hi = np.searchsorted(sarr, ptxt + chr(0x10FFFF), side="left")
            if hi <= lo:
                continue
            cand_ids = sids[lo:hi]
            keep = (cand_ids != pid) & (len(ptxt) < slens[lo:hi])
            for d in np.unique(cand_ids[keep]):
                srcs.append(pid)
                dsts.append(d)
        # ids may be string (images) or int64 (documents) — schema says string
        return pd.DataFrame({"src": srcs, "dst": dsts}, dtype=object).astype(str)

    out = (
        tagged.repartitionByRange(num_ranges, "anchor")
        .groupBy(F.spark_partition_id().alias("part"))
        .applyInPandas(lambda pdf: emit(pdf), schema=_SUFFIX_OUT)
    )
    return out.dropDuplicates(["src", "dst"])
