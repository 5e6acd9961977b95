"""End-to-end north-rule dedup pipeline (P0-P13).

    images --gate--> valid rows --P2/P3--> signatures --P4/P5/P6--> candidates
       \\--P8--> phash pairs      --P7--> verified caption pairs
        \\--P9--> containment pairs
    edges = P7 ∪ P8 ∪ P9  --P10/P11--> components --P12--> clusters
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG
from jsonschema_jl_spark.gate.gate import GateMetrics, gate_filter
from jsonschema_jl_spark.gate.compiler import (
    NotNativelyCompilable,
    compile_native_checks,
)
from jsonschema_jl_spark.operators.minhash import normalize_signatures_bands
from jsonschema_jl_spark.operators.lsh import candidate_pairs
from jsonschema_jl_spark.operators.verify import verify_jaccard_text
from jsonschema_jl_spark.operators.phash import phash_pairs
from jsonschema_jl_spark.operators.substring import containment_pairs
from jsonschema_jl_spark.operators.components import connected_components

if TYPE_CHECKING:
    from jsonschema_jl_spark.io.checkpoint import CheckpointManager

# The gate schema for the authoritative input shape (BASELINE.json:15,
# FIXTURES.md §1) — fully native-compilable, so the gate is pure Catalyst.
IMAGES_GATE_SCHEMA: dict = {
    "type": "object",
    "required": ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 65535},
        "h": {"type": "integer", "minimum": 1, "maximum": 65535},
        "fmt": {"enum": ["png", "jpeg", "webp"]},
        "caption": {"type": "string", "minLength": 3, "maxLength": 2048},
        "phash": {"type": "integer"},
    },
}


@dataclass
class PipelineResult:
    labels: DataFrame          # (image_id, component)
    edges: DataFrame           # (src, dst, kind)
    signatures: DataFrame      # (nid, image_id, txt_norm, phash, bands)
    metrics: dict = field(default_factory=dict)
    _cached: tuple = ()

    def cleanup(self) -> None:
        for df in self._cached:
            df.unpersist()


def dedup_pipeline(
    images: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    gate_schema: dict | None = None,
    checkpoint: tuple[CheckpointManager, int] | None = None,
) -> PipelineResult:
    """The detector cascade.  Its three materialization points — the
    signatures projection, the edge set and the labels — stay in the
    session by default.  With `checkpoint=(manager, n_buckets)` each one
    is instead the stage of that name in the manager: written unless its
    manifest records it complete, then read back; a complete stage never
    builds its upstream, and the row counts that size the partition floors
    come from the manifest.  That is the whole difference between an
    in-memory and a resumable run (io.checkpoint.resumable_pipeline)."""
    gate_schema = IMAGES_GATE_SCHEMA if gate_schema is None else gate_schema
    spark = images.sparkSession
    ckpt, n_buckets = checkpoint or (None, 0)

    def landed(stage: str, id_col: str, build) -> tuple[DataFrame, int]:
        if not ckpt.stage_complete(stage, n_buckets):
            ckpt.write_stage(build(), stage, id_col=id_col, n_buckets=n_buckets)
        return ckpt.read_stage(spark, stage).drop("part_bucket"), ckpt.stage_rows(stage)

    # gate backend observability (round-4 ask #8): which backend the gate
    # compiled to, plus the screen/walk split when the UDF lane runs.  The
    # default IMAGES_GATE_SCHEMA is fully native (pure Catalyst, no Python
    # stage), so its counters stay zero — a NONZERO walked/fallback count
    # in the flagship metrics is itself the regression signal.
    gate_metrics = GateMetrics(spark)
    try:
        compile_native_checks(gate_schema, images.schema)
        gate_backend = "native"
    except NotNativelyCompilable:
        gate_backend = "udf"
    # rebalance: the pruned projection of a wide table collapses to few scan
    # partitions; every downstream kernel (minhash UDF, phash explode,
    # containment grams) inherits that, so rebalance once.  Partition COUNT
    # follows spark.sql.shuffle.partitions (a property of the DATA size the
    # job was configured for), NOT the executor count: scaling the cluster
    # must not change the plan's partitioning, or per-partition fixed costs
    # make small runs look anti-scalable and big runs under-split.
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def signatures() -> DataFrame:
        valid = gate_filter(images, gate_schema, metrics=gate_metrics)
        # column pruning: only what dedup needs flows past the gate.  The
        # string image_id is dictionary-encoded to a 64-bit hash for the hot
        # path — bucket/gram/block explosions shuffle tens of rows per
        # image, and a fixed-width long beats a 15-char string in every
        # exchange and join.  (At 10^12 rows you would zipWithIndex against
        # the Iceberg snapshot instead; xxhash64 collisions are ~n^2/2^64 —
        # negligible at bench scale and detectable by the final re-join.)
        slim = valid.select(
            F.xxhash64("image_id").alias("nid"),
            "image_id",
            F.col("caption"),
            "phash",
        ).repartition(par)
        # P2+P3+P4 in ONE Arrow crossing (minhash.normalize_signatures_bands):
        # caption normalization happens exactly once, inside the same kernel
        # that shingles, OPH-hashes and folds the LSH band keys — the previous
        # shape paid two full JVM<->Python round trips (an ArrowEvalPython
        # normalize stage into the persisted projection, then a MapInArrow
        # signature stage back over it) and shipped a num_perm-long `minhash`
        # array out of Python (~2 KB/row) that banding immediately discarded
        # (verification recomputes shingles from candidate texts).  The
        # projection carries (nid, image_id, txt_norm, phash, bands) and
        # feeds all four consumers: banding (bands), Jaccard verify +
        # containment (txt_norm), phash (phash).
        return normalize_signatures_bands(
            slim, text_col="caption", cfg=cfg, out_text_col="txt_norm"
        )

    cached: tuple = ()
    try:
        if ckpt is None:
            # slim feeds three detector branches (minhash, phash,
            # containment) — persist AND materialize eagerly: the branches
            # fan out inside one job, and a lazily-persisted subtree would be
            # recomputed concurrently by each branch before the cache
            # populates.  The checkpointed run lands it in the signatures
            # stage instead of executor memory.
            slim = signatures().persist()
            cached = (slim,)
            n_valid = slim.count()
        else:
            slim, n_valid = landed("signatures", "image_id", signatures)

        # data-derived partition floor for the candidate/verify hot paths
        # (round-5, found by the 10x stress draw): the probe/pair/text
        # hash-join BUILD sides are corpus-proportional, so at a fixed
        # session partition count their per-task maps grow without bound —
        # 6.5M rows x 32 partitions exceeded the 512 MB memory grant inside
        # containment's candidate join.  ~50k gated rows per partition keeps
        # every build in the tens of MB; at bench scale the floor resolves
        # to the session conf and plans are byte-identical.  On a real
        # cluster the job ALSO sizes spark.sql.shuffle.partitions to the
        # data (SCALE.md §partitioning); this floor makes the operators safe
        # even when it doesn't.
        hot_par = max(par, n_valid // 50_000)
        # the LSH capped-mass accumulators: final only once the edges have
        # materialized (see lsh.SkewMetrics)
        skew: list = []

        def edges_of() -> DataFrame:
            # the projection's precomputed band keys go to the pairing as
            # one list per row: the pack task flattens them in numpy (no
            # signature stage or JVM explode exists — see the fused kernel)
            buckets = slim.select(F.col("nid").alias("id"), F.col("bands").alias("bucket"))
            cands, metrics = candidate_pairs(buckets, cfg, num_partitions=hot_par)
            skew.append(metrics)
            caption_edges = verify_jaccard_text(
                cands, slim, id_col="nid", text_col="txt_norm", cfg=cfg,
                assume_normalized=True, num_partitions=hot_par,
            )
            # P10 union carries the kind as its PRIORITY INT (caption=0 <
            # phash=1 < substring=2), not the string: the per-pair dedup
            # below is then agg(min(int)) — a primitive-buffer HashAggregate
            # — where min(struct(pri, kind)) forced a SortAggregate that
            # SORTED every edge row on both sides of its exchange (the
            # struct min has no mutable-buffer implementation).  The string
            # kind is re-derived from the int after the agg; semantics
            # (keep first by priority, deterministically) are unchanged.
            edges = (
                caption_edges.select("src", "dst", F.lit(0).alias("pri"))
                .unionByName(
                    phash_pairs(slim, id_col="nid", cfg=cfg, num_partitions=hot_par).select(
                        "src", "dst", F.lit(1).alias("pri")
                    )
                )
                .unionByName(
                    containment_pairs(
                        slim, id_col="nid", text_col="txt_norm", cfg=cfg,
                        assume_normalized=True, num_partitions=hot_par,
                    ).select("src", "dst", F.lit(2).alias("pri"))
                )
            )
            return (
                edges.groupBy("src", "dst").agg(F.min("pri").alias("pri"))
                .select(
                    "src", "dst",
                    F.when(F.col("pri") == 0, "caption")
                    .when(F.col("pri") == 1, "phash")
                    .otherwise("substring").alias("kind"),
                )
            )

        if ckpt is None:
            # P10 materialization: the edges feed both CC and
            # PipelineResult.edges — land them once, here, so neither
            # re-runs the Python candidate/verify/containment cascade and
            # the cascade's jobs run before CC's
            edges = edges_of().localCheckpoint(eager=True)
        else:
            edges = landed("edges", "src", edges_of)[0]
        # the detector kernels ran exactly once, inside the materialization
        # above (none ran when a completed edges stage was read back)
        skew_metrics = skew[0].as_dict() if skew else {}

        def labels_of() -> DataFrame:
            nid_labels = connected_components(
                edges.select("src", "dst"),
                vertices=slim.select("nid"),
                max_iters=cfg.cc_max_iters,
            )
            # map the numeric hot-path ids back to image_ids (component
            # keeps a stable representative: the image_id of its min-nid
            # member)
            iddict = slim.select("nid", "image_id")
            comp_names = iddict.select(
                F.col("nid").alias("component"), F.col("image_id").alias("component_id")
            )
            return (
                nid_labels.join(iddict, nid_labels.id == iddict.nid)
                .join(comp_names, "component")
                .select("image_id", F.col("component_id").alias("component"))
            )

        labels = labels_of() if ckpt is None else landed("labels", "image_id", labels_of)[0]
        return PipelineResult(
            labels=labels,
            edges=edges,
            signatures=slim,
            metrics={
                "skew": skew_metrics,
                "config_hash": cfg.config_hash(),
                # gate counters are final here: the signatures materialization
                # above already ran the gate for every row (none when a
                # completed signatures stage was read back)
                "gate": {"backend": gate_backend, **gate_metrics.as_dict()},
            },
            _cached=cached,
        )
    except BaseException:
        # release the eager slim persist on ANY failure downstream —
        # otherwise an aborted run pins the projection for the session
        for df in cached:
            df.unpersist()
        raise
