"""Similarity search over embedding columns (array<float>).

  * cosine_topk       — exact brute-force top-k via a blocked cross join;
    the baseline and the oracle for the approximate path.  Native
    F.aggregate/F.zip_with dot products (JVM, no Python).
  * lsh_ann_pairs     — scale path for all-pairs mining: random-hyperplane
    (SimHash) bucketing; only pairs sharing a hyperplane-sign bucket are
    scored.  At 10^12 rows the cross join is infeasible; signs shrink
    candidates to O(n * bucket_size) with tunable recall via
    (n_planes, n_tables).  Bucket members pair in the group-pairs kernel.
  * ivf_topk          — scale path for query serving: spherical-k-means
    coarse cells (IVF); each query scans nprobe cells, O(nprobe*n/cells)
    per query, bucket-prunable by cell at scale.
  * exact_dedup       — hash-groupBy exact text dedup (documents table)
  * ngram_token_pairs — pairs sharing a token n-gram, with their shared-gram
    count (near-dup candidates for a Jaccard verify); gram members pair in
    the group-pairs kernel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from jsonschema_jl_spark.operators.group_pairs import bucket_emitter, list_rows, pair_groups
from jsonschema_jl_spark.operators.textops import normalized_text, fingerprint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k per query.

    queries defaults to the corpus itself (self top-k, excluding self).
    The corpus side is broadcast when small; at scale, block the corpus and
    loop (or use lsh_ann_topk)."""
    corpus = df.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    q = (queries or df).select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    scored = (
        q.crossJoin(corpus)
        .filter(F.col("qid") != F.col("nid"))
        # rank by the ROUNDED score with id tie-break: keeps the top-k
        # deterministic and bit-identical across engines (raw float sums can
        # differ in the last ulp between implementations)
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("nvec")), 6))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"),
                "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, table: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 7919 * table)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def signs_column(vec_col: Column, planes: np.ndarray) -> Column:
    """Bucket key: sign bits of <v, h_i> packed into a long — computed with
    native array expressions per plane (JVM-side).  Plan size grows with
    n_planes*dim literal elements: past _NATIVE_SIGNS_MAX, lsh_ann_pairs
    switches to the Arrow matmul kernel (signs_keys_udf) instead."""
    key = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lits = F.array(*[F.lit(float(x)) for x in plane])
        dot = _dot(vec_col, lits)
        key = key + F.when(dot > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
    return key


# above this many n_planes*dim literal elements PER TABLE, the native
# per-plane expression tree becomes a codegen/plan-size risk (each plane is
# a dim-long literal array + an aggregate fold); the Arrow kernel computes
# every table's key in ONE (batch, dim) @ (dim, tables*planes) matmul
_NATIVE_SIGNS_MAX = 4096


def signs_keys_udf(planes_tables: np.ndarray):
    """Arrow-batched bucket keys for ALL tables at once: planes_tables is
    (n_tables, n_planes, dim); the UDF maps an embedding column to an
    array<long> of n_tables packed sign keys via a single matmul per batch
    (same math as signs_column: bit i set iff <v, h_i> > 0)."""
    n_tables, n_planes, dim = planes_tables.shape
    W = planes_tables.reshape(n_tables * n_planes, dim).T.copy()  # (dim, T*P)
    pw = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            n = len(vecs)
            # null / wrong-length embeddings get a NULL key array (the row
            # then builds no bucket rows) instead of crashing the matmul
            # with a ragged np.asarray; the native path degrades the same
            # way in effect — its null-dot key-0 rows never survive the
            # `cos >= min_cos` null filter, so pair output is identical
            out: list = [None] * n
            idx: list[int] = []
            rows: list[np.ndarray] = []
            for i, v in enumerate(vecs):
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.shape != (dim,) or not np.isfinite(a).all():
                    continue
                idx.append(i)
                rows.append(a)
            if rows:
                X = np.vstack(rows)
                S = (X @ W) > 0                       # (g, T*P) sign bits
                S = S.reshape(len(X), n_tables, n_planes)
                key = (S * pw).sum(axis=2)            # (g, T) packed longs
                for j, i in enumerate(idx):
                    out[i] = key[j].tolist()
            yield pd.Series(out, dtype=object)

    return keys


def lsh_ann_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 4242,
    min_cos: float = 0.0,
    bucket_cap: int = 2000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Candidate (src, dst, cos) pairs sharing a hyperplane-sign bucket in
    any of n_tables tables; exact cosine verified natively.

    Input contract: `id_col` values are unique (one vector per id) — the
    pair set is deduped BEFORE the vector re-fetch joins, so duplicate ids
    would fan out again in the fetch.

    Bucket keys: native per-plane Column expressions while the literal
    volume stays small (whole-stage codegen, zero Python), else one Arrow
    matmul kernel computing every table's key per batch — the per-plane
    literal arrays are a plan/codegen-size risk past ~64x64
    (_NATIVE_SIGNS_MAX).

    Embeddings are the WIDEST rows in the corpus (2-4 KB at dim 512+), so
    no vector ever crosses the candidate-generation shuffle: the key
    computation reads `vec` map-side and projects it off before the pack,
    whose task flattens each (id, keys) row into (id, table, bucket) rows
    in numpy; they cross ONE packed exchange on (table, bucket) into the
    group-pairs kernel (operators/group_pairs.py), which drops buckets
    above `bucket_cap` and emits member pairs in bounded batches.  The
    exact-cosine verify re-fetches vectors for the (tiny) candidate set by
    two narrow id joins (the verify.verify_jaccard_text pattern).

    `num_partitions` sizes every exchange of this op to the DATA (derive it
    from the corpus row count, ~50k rows/partition — the same floor the
    pipeline threads through candidate_pairs/phash_pairs/containment_pairs
    after the 10x stress draw): the bucket rows and the vector-fetch joins
    all grow with the corpus, so at a fixed session partition count their
    per-task memory grows without bound."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_planes * dim <= _NATIVE_SIGNS_MAX:
        keys = F.array(*[
            signs_column(F.col("vec"), _hyperplanes(dim, n_planes, t, seed))
            for t in range(n_tables)
        ])
    else:
        planes = np.stack([
            _hyperplanes(dim, n_planes, t, seed) for t in range(n_tables)
        ])
        keys = signs_keys_udf(planes)(F.col("vec"))
    id_type = base.schema["id"].dataType
    pairs = pair_groups(
        base.select("id", keys.alias("keys")), list_rows("keys", "bucket", pos="table"),
        ["table", "bucket"], bucket_emitter,
        T.StructType([T.StructField("src", id_type), T.StructField("dst", id_type)]),
        cap=bucket_cap, num_partitions=num_partitions,
    ).dropDuplicates(["src", "dst"])
    # narrow vector re-fetch for the exact-cosine verify: only candidate
    # pairs (a tiny fraction of rows after banding + caps) pull vectors,
    # and the corpus-side shuffles carry (id, vec) exactly once per side.
    # Hash joins, not sort-merge: sorting the vector relation to fetch a
    # few candidates would be pure overhead.  The hash BUILD side is the
    # VECTOR relation on BOTH joins — bounded per task by `num_partitions`
    # (~50k vectors/partition) — never the candidate-pair relation, which
    # is the unbounded relation class the 10x stress draw blew the 512 MB
    # build grant on (the round-5 shape built the first join on `pairs`).
    left = base.select(F.col("id").alias("src"), F.col("vec").alias("vec_src"))
    right = base.select(F.col("id").alias("dst"), F.col("vec").alias("vec_dst"))
    if num_partitions is not None:
        pairs = pairs.repartition(num_partitions, "src")
        left = left.repartition(num_partitions, "src")
        right = right.repartition(num_partitions, "dst")
    joined = pairs.join(left.hint("SHUFFLE_HASH"), "src").join(
        right.hint("SHUFFLE_HASH"), "dst"
    )
    return (
        joined.withColumn(
            "cos", F.round(cosine(F.col("vec_src"), F.col("vec_dst")), 6)
        )
        .filter(F.col("cos") >= min_cos)
        .select("src", "dst", "cos")
    )


def ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int,
    seed: int = 4242, sample_n: int = 4096, iters: int = 6,
) -> np.ndarray:
    """Spherical k-means centroids from a DETERMINISTIC sample (ordered by
    xxhash64(id) — reproducible across partitionings, unlike df.sample).
    Lloyd iterations run driver-side in numpy: the sample is O(sample_n *
    dim) bytes regardless of corpus size, the one driver-side step of the
    IVF build.  Returns a unit-normalized (n_cells, dim) float64 array."""
    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"),
        )
        .orderBy("h").limit(sample_n).collect()
    )
    if len(rows) < n_cells:
        raise ValueError(
            f"ivf_centroids: sample has {len(rows)} rows < n_cells={n_cells}; "
            "reduce n_cells or provide more data"
        )
    X = np.asarray([r.v for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_cells].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                C[c] = X[m].mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def _cells_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched cell assignment: one (batch, dim) @ (dim, cells)
    matmul per batch, top-nprobe cells by cosine (centroids are unit)."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        Ct = centroids.T
        for vecs in it:
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            scores = X @ Ct
            if nprobe == 1:
                top = scores.argmax(axis=1)[:, None]
            else:
                part = np.argpartition(-scores, nprobe - 1, axis=1)[:, :nprobe]
                order = np.take_along_axis(-scores, part, 1).argsort(axis=1)
                top = np.take_along_axis(part, order, 1)
            yield pd.Series([row.astype(np.int32) for row in top])

    return cells


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 4242,
    queries: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: the partition-pruned scale path for query
    serving (lsh_ann_pairs covers all-pairs mining).

    Corpus vectors land in their argmax-cosine coarse cell; each query
    scans only its nprobe nearest cells, so per-query work is
    O(nprobe * n/n_cells) instead of O(n) — with n_cells ~ sqrt(n) and the
    cell a join key, the probe is an equi-join Catalyst shuffles on cell
    id (at 10^12 rows: the corpus is written bucketed by cell, making the
    probe a bucket-pruned scan, no shuffle of the corpus).  Scoring and
    ranking stay native (JVM cosine + window top-k); Python is one
    Arrow-batched matmul per batch for cell assignment."""
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_cells, seed)
    assign = _cells_udf(centroids, 1)
    probe = _cells_udf(centroids, nprobe)
    corpus = df.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"),
        F.element_at(assign(F.col(vec_col)), 1).alias("cell"),
    )
    q = (queries if queries is not None else df).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    scored = (
        q.join(corpus, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("nvec")), 6))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"),
                "cos", "rank")
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-text fingerprint: canonical id = min id per
    group.  (fingerprint, canonical_id, n_dups)."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def ngram_token_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    anchor_cap: int = 200,
    num_partitions: int | None = None,
) -> DataFrame:
    """Near-dup candidates: pairs sharing at least one token n-gram.
    (src, dst, shared_ngrams) — exact Jaccard can then verify.  n-grams are
    md5-hex (cross-engine deterministic).

    Tokenization runs ONCE: the split sits under a Generate (explode of a
    one-element array), which Catalyst cannot collapse into downstream
    projections — the earlier formulation inlined the split expression into
    both size() and slice() and leaned on codegen CSE across a lambda
    boundary to dedup it.  Each document's distinct grams stay one list;
    the pack task flattens it into (id, g) rows, which cross ONE packed
    exchange on the gram into the group-pairs kernel
    (operators/group_pairs.py), which
    drops grams shared by more than `anchor_cap` documents and emits each
    gram's member pairs in bounded batches; the shared-gram count falls out
    of a groupBy over those pairs.

    `num_partitions` sizes the gram-row exchange to the DATA — derive it
    from the corpus row count (~50k rows/partition): the gram relation
    grows linearly with the corpus, so at a fixed session partition count
    the rows one kernel task holds grow without bound."""
    # a null text has no grams: without this filter it would split into one
    # gram that every null-text document shares
    toks_df = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        # Generate barrier: one split per row, referenced twice downstream
        F.explode(F.array(F.split(normalized_text(F.col(text_col)), " "))).alias("toks"),
    )
    grams = toks_df.select(
        "id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {n}))))"
            )
        ).alias("grams"),
    )
    id_type = grams.schema["id"].dataType
    return (
        pair_groups(
            grams, list_rows("grams", "g"), ["g"], bucket_emitter,
            T.StructType([T.StructField("src", id_type), T.StructField("dst", id_type)]),
            cap=anchor_cap, num_partitions=num_partitions,
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("shared_ngrams"))
    )
