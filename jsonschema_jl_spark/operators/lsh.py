"""LSH banding, bucket grouping, skew-aware candidate pair generation (P4-P6).

Spark-first design:
  * the signature kernel emits each row's band keys vectorized
    (minhash.band_keys_np) as one `bands` list; candidate_pairs takes that
    list as it is, and the pack task of the packed exchange flattens it in
    numpy (`id` repeated per band) — no JVM explode.  `band_buckets` bands
    bare signatures in the JVM instead (xxhash64 over slices) into the
    same one-list-per-row shape;
  * candidate pairs come from ONE packed exchange of the (id, bucket) rows
    on the bucket key (the band id is folded into the bucket hash, so
    `bucket` alone is the group key), paired where they land by the
    group-pairs Arrow kernel (operators/group_pairs.py): sort by bucket,
    cut the runs, emit every pair inside a run in bounded batches.
    Nothing is persisted, counted by a separate aggregate or collected
    into lists;
  * skew handling (north rule, BASELINE.json:6): on the flagship, buckets
    above cfg.bucket_cap are excluded from pairing by the kernel and
    reported as metrics (count + dropped row mass, accumulated as the
    kernel runs).  Stop-shingle buckets at web scale otherwise explode
    quadratically — a size-s bucket yields s(s-1)/2 pairs, so a single
    1M-row bucket would emit 5*10^11 pairs.  Capped mass is
    recall-accounted by the oracle harness at identical config, and the
    phash/containment passes still cover capped rows.  The exact path is
    uncapped streamed pairing: candidate_pairs with a cap above any bucket
    (group_pairs.NO_CAP) emits every pair, a hot bucket's pairs leaving its
    task in batches of at most group_pairs.PAIR_BUDGET.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.operators.group_pairs import bucket_emitter, list_rows, pair_groups


def band_buckets(
    df: DataFrame, id_col: str = "image_id", sig_col: str = "minhash",
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, bucket) — one row per id whose `bucket` is the list of its band
    keys, from bare signatures: a JVM-side xxhash64 over each band's
    signature slice, salted by the band id, so a key alone is a valid
    grouping key.  The shape candidate_pairs takes, and the pipeline's
    `bands`.  No Python; used by callers holding bare signatures (the
    uncapped skew query, the kernel-parity tests).  Candidates are pairs
    agreeing on a band's CONTENT, so this yields the pair set of the
    signature kernel's own keys (minhash.band_keys_np), which the pipeline
    uses instead: these num_bands slice+xxhash64 expressions over
    num_perm-long arrays measured 147 s CPU per 108k rows, ~40x the kernel
    fold."""
    slices = [
        F.xxhash64(F.slice(F.col(sig_col), b * cfg.rows_per_band + 1, cfg.rows_per_band), F.lit(b))
        for b in range(cfg.num_bands)
    ]
    return df.select(F.col(id_col).alias("id"), F.array(*slices).alias("bucket"))


class SkewMetrics:
    """Buckets above cfg.bucket_cap and their rows, counted by the pairing
    kernel as it runs (Spark accumulators: no extra action).  Read them
    after the pairs materialize — before, they read 0 — and once per
    kernel run: a recomputation of the pairs, or a retried task (the
    GateMetrics caveat), adds again."""

    def __init__(self, sc) -> None:
        self.accumulators = (sc.accumulator(0), sc.accumulator(0))

    @property
    def capped_buckets(self) -> int:
        return self.accumulators[0].value

    @property
    def capped_rows(self) -> int:
        return self.accumulators[1].value

    def as_dict(self) -> dict:
        return {"capped_buckets": self.capped_buckets, "capped_rows": self.capped_rows}


def candidate_pairs(
    buckets: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG, with_metrics: bool = False,
    num_partitions: int | None = None,
):
    """Distinct (src, dst) candidate pairs (src < dst) from shared buckets.

    `buckets` holds `id` and `bucket`, the list of the id's band keys (the
    pipeline's `bands`, or band_buckets); the pack task flattens the lists.
    ONE packed exchange of the (id, bucket) rows, routed on the bucket into
    `num_partitions` (the pipeline derives it from the gated row count,
    which bounds the rows one kernel task holds no matter how far the input
    outgrows the session's shuffle-partition conf), then the group-pairs
    kernel: buckets of one row or above cfg.bucket_cap emit nothing, the
    rest emit every member pair in batches of at most 2^20.

    Returns df, or (df, SkewMetrics) when with_metrics=True; the metrics
    fill in as the pairs materialize (see SkewMetrics)."""
    id_type = buckets.schema["id"].dataType
    skew = SkewMetrics(buckets.sparkSession.sparkContext) if with_metrics else None
    pairs = pair_groups(
        buckets.select("id", "bucket"), list_rows("bucket", "bucket"), ["bucket"], bucket_emitter,
        T.StructType([T.StructField("src", id_type), T.StructField("dst", id_type)]),
        cap=cfg.bucket_cap, num_partitions=num_partitions,
        capped=skew.accumulators if skew is not None else None,
    ).dropDuplicates(["src", "dst"])
    return (pairs, skew) if with_metrics else pairs
