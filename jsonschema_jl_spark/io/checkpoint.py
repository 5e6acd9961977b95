"""Checkpoint / resume / lineage / metrics (P13).

The north rule requires signatures and component labels checkpointed per
partition with lineage and per-partition metrics for resumable runs
(BASELINE.json:14).  Without the Iceberg runtime jar the sink is
partitioned parquet: the same layout maps 1:1 onto an Iceberg table
partitioned by `part_bucket`, with the manifest's role played by Iceberg
snapshot metadata (io/iceberg.py).

Layout:
    <root>/<config_hash>_L<layout_version>/<stage>/part_bucket=N/*.parquet
    <root>/<config_hash>_L<layout_version>/<stage>/_manifest.json

The stages are the three materialization points of
operators.pipeline.dedup_pipeline, which writes them when it is given a
manager (resumable_pipeline below); layout v3 stores:
    signatures  (nid, image_id, txt_norm, phash, bands)  bucketed by image_id
    edges       (src, dst, kind)                         bucketed by src
    labels      (image_id, component)                    bucketed by image_id

Manifest records lineage (input descriptor, bucket count, id column, config
hash, engine version), per-bucket row counts, and completion flags.  Resume
= recompute only the buckets missing from the manifest.  Stale state is
never mixed in: a config change hashes to a different directory, and a
stage whose manifest records another bucket count or id column restarts
from scratch (its buckets partition the rows differently).  The directory
name also carries LAYOUT_VERSION — the version of the ON-DISK stage schema,
bumped whenever the engine changes what a stage stores.  A resumed run
under a new engine therefore never reads a stage written in an older
layout: the old directory is simply orphaned and the run recomputes under
the new one, which extends the stale-state guarantee to engine upgrades
where DedupConfig itself (and thus config_hash) is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from jsonschema_jl_spark import __version__
from jsonschema_jl_spark.config import DedupConfig


# Version of the on-disk stage layout (NOT the dedup semantics — that is
# DedupConfig.config_hash()).  Bump when a stage's stored column set changes.
# v2: signatures stage stores precomputed LSH `bands` alongside the minhash.
# v3: signatures store the fused kernel's projection (no `minhash` array),
#     edges carry their `kind`.
LAYOUT_VERSION = 3


def bucket_col(id_col: str, n_buckets: int):
    """Deterministic partition bucket (maps to Iceberg `bucket(N, id)`)."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


class CheckpointManager:
    def __init__(self, root: str, cfg: DedupConfig, input_desc: str = "") -> None:
        self.root = root
        self.cfg = cfg
        self.input_desc = input_desc
        self.base = os.path.join(root, f"{cfg.config_hash()}_L{LAYOUT_VERSION}")
        os.makedirs(self.base, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base, stage, "_manifest.json")

    def read_manifest(self, stage: str) -> dict:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return {"stage": stage, "buckets": {}, "config_hash": self.cfg.config_hash()}
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)

    def _write_manifest(self, stage: str, manifest: dict) -> None:
        p = self._manifest_path(stage)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, p)

    # -- stage write / resume ----------------------------------------------

    def completed_buckets(self, stage: str) -> set[int]:
        return {int(b) for b, m in self.read_manifest(stage).get("buckets", {}).items() if m.get("done")}

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        id_col: str,
        n_buckets: int = 8,
        resume: bool = True,
        materialize: bool = True,
    ) -> str:
        """Write `df` bucketed by hash(id) under the stage dir, skipping
        buckets already recorded as done.  One Spark job per missing bucket
        (the resumability unit).  The bucket filter is an expression over
        hash(id) and can NOT push below upstream aggregations/UDF stages, so
        by default the input is materialized once (localCheckpoint) before
        the per-bucket loop — otherwise the whole upstream plan (e.g. the
        full detector cascade feeding `edges`) re-executes n_buckets times
        (measured 2.7x in dedup_pipeline before the same fix).  Pass
        materialize=False only when the upstream is itself bucket-partitioned
        storage, where the filter prunes at the source."""
        path = os.path.join(self.base, stage)
        if materialize:
            df = df.localCheckpoint(eager=True)
        manifest = self.read_manifest(stage)
        recorded = manifest.get("lineage", {})
        if not resume or (recorded.get("n_buckets"), recorded.get("id_col")) != (n_buckets, id_col):
            # buckets hashed with another count or id column hold other
            # rows: restart the stage instead of mixing them in
            shutil.rmtree(path, ignore_errors=True)
            manifest = {"stage": stage, "buckets": {}}
        manifest["config_hash"] = self.cfg.config_hash()
        manifest["engine_version"] = __version__
        manifest["layout_version"] = LAYOUT_VERSION
        manifest["lineage"] = {
            "input": self.input_desc,
            "n_buckets": n_buckets,
            "id_col": id_col,
        }
        done = {int(b) for b, m in manifest["buckets"].items() if m.get("done")}
        tagged = df.withColumn("part_bucket", bucket_col(id_col, n_buckets))
        for b in range(n_buckets):
            if b in done:
                continue
            t0 = time.time()
            part = tagged.filter(F.col("part_bucket") == b).drop("part_bucket")
            out = os.path.join(path, f"part_bucket={b}")
            part.write.mode("overwrite").parquet(out)
            n = part.sparkSession.read.parquet(out).count()
            manifest["buckets"][str(b)] = {
                "done": True,
                "rows": n,
                "seconds": round(time.time() - t0, 2),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._write_manifest(stage, manifest)
        return path

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        path = os.path.join(self.base, stage)
        return spark.read.option("basePath", path).parquet(os.path.join(path, "part_bucket=*"))

    def stage_complete(self, stage: str, n_buckets: int) -> bool:
        recorded = self.read_manifest(stage).get("lineage", {}).get("n_buckets")
        return recorded == n_buckets and self.completed_buckets(stage) >= set(range(n_buckets))

    def stage_rows(self, stage: str) -> int:
        return sum(v.get("rows", 0) for v in self.read_manifest(stage)["buckets"].values())

    def metrics(self) -> dict:
        out = {}
        if not os.path.isdir(self.base):
            return out
        for stage in sorted(os.listdir(self.base)):
            m = self.read_manifest(stage)
            if m.get("buckets"):
                out[stage] = {
                    "rows": sum(v.get("rows", 0) for v in m["buckets"].values()),
                    "buckets_done": len([v for v in m["buckets"].values() if v.get("done")]),
                    "per_bucket": m["buckets"],
                }
        return out


def resumable_pipeline(
    spark: SparkSession,
    images: DataFrame,
    ckpt: CheckpointManager,
    cfg: DedupConfig,
    n_buckets: int = 8,
) -> DataFrame:
    """dedup_pipeline with its signatures, edges and labels stages written
    to `ckpt` in `n_buckets` buckets each (P13); returns the labels.  A
    killed run resumes at the first incomplete stage, within it only the
    missing buckets are written, and a completed stage never rebuilds its
    upstream.  `spark` is unused (the run uses `images`' session); it stays
    for existing callers."""
    from jsonschema_jl_spark.operators.pipeline import dedup_pipeline

    return dedup_pipeline(
        images, cfg, checkpoint=(ckpt, n_buckets), collect_metrics=False
    ).labels
