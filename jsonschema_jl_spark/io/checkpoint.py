"""Checkpoint / resume / lineage / metrics (P13).

The north rule requires signatures and component labels checkpointed per
partition with lineage and per-partition metrics for resumable runs
(BASELINE.json:14).  Without the Iceberg runtime jar the sink is
partitioned parquet: the same layout maps 1:1 onto an Iceberg table
partitioned by `part_bucket`, with the manifest's role played by Iceberg
snapshot metadata (io/iceberg.py).

Layout (plus `<stage>/_staging/` while a stage is written):
    <root>/<config_hash>_L<layout_version>/<stage>/part_bucket=N/*.parquet
    <root>/<config_hash>_L<layout_version>/<stage>/_manifest.json

The stages are the three materialization points of
operators.pipeline.dedup_pipeline (resumable_pipeline below); layout v4:
    signatures  (nid, image_id, txt_norm, phash, bands)  bucketed by image_id
    edges       (src, dst, kind)                         bucketed by src
    labels      (image_id, component)                    bucketed by image_id

Manifest records lineage (input descriptor, bucket count, id column, config
hash, engine version), the stage schema and write time, and per-bucket row
counts and completion flags.  Resume = write only the buckets missing from
the manifest, in one job (CheckpointManager.write_stage).  Stale state is
never mixed in: a config change hashes to a different directory; a stage
whose manifest records another bucket count or id column restarts from
scratch (its buckets partition the rows differently); and the directory
name carries LAYOUT_VERSION, so an engine that stores stages differently
recomputes in a new directory instead of reading the old one, even where
DedupConfig (and thus config_hash) is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from jsonschema_jl_spark import __version__
from jsonschema_jl_spark.config import DedupConfig


# Version of the on-disk stage layout (NOT the dedup semantics — that is
# DedupConfig.config_hash()).  Bump when what a stage stores changes.
# v2: signatures stage stores precomputed LSH `bands` alongside the minhash.
# v3: signatures store the fused kernel's projection (no `minhash` array),
#     edges carry their `kind`.
# v4: the manifest records the stage schema, which read_stage reads with.
LAYOUT_VERSION = 4


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
        self, df: DataFrame, stage: str, id_col: str, n_buckets: int = 8,
        resume: bool = True, materialize: bool = True,
    ) -> str:
        """Write the buckets of `df` (by hash(id)) that the manifest does
        not record as done in ONE Spark job of n_buckets write tasks, into
        `_staging`; then commit each in turn on the driver: rename onto
        `part_bucket=N`, row count from the parquet footers, manifest entry.
        A kill inside the write job loses that job's buckets (the next write
        discards `_staging`); a kill in the commit loop keeps the buckets
        committed before it.  `materialize` is accepted and ignored."""
        path = os.path.join(self.base, stage)
        staging = os.path.join(path, "_staging")
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
        manifest["lineage"] = {"input": self.input_desc, "n_buckets": n_buckets, "id_col": id_col}
        tagged = df.withColumn("part_bucket", bucket_col(id_col, n_buckets))
        manifest["schema"] = tagged.schema.json()
        missing = sorted(set(range(n_buckets)) - self.completed_buckets(stage))
        shutil.rmtree(staging, ignore_errors=True)
        if not missing:
            return path
        t0 = time.time()
        (
            tagged.filter(F.col("part_bucket").isin(missing))
            .repartition(n_buckets, "part_bucket")
            .write.partitionBy("part_bucket")
            .parquet(staging)
        )
        manifest["write_seconds"] = round(time.time() - t0, 2)
        for b in missing:
            out = os.path.join(path, f"part_bucket={b}")
            shutil.rmtree(out, ignore_errors=True)
            written = os.path.join(staging, f"part_bucket={b}")
            os.makedirs(written, exist_ok=True)  # a bucket no row hashed to
            os.replace(written, out)
            manifest["buckets"][str(b)] = {
                "done": True,
                "rows": ds.dataset(out, format="parquet").count_rows(),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._write_manifest(stage, manifest)
        shutil.rmtree(staging, ignore_errors=True)
        return path

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The stage's rows and `part_bucket`, read with the schema its
        manifest records (a stage of zero rows has no parquet file to infer
        one from).  Parquet skips `_manifest.json` and `_staging`."""
        schema = T.StructType.fromJson(json.loads(self.read_manifest(stage)["schema"]))
        return spark.read.schema(schema).parquet(os.path.join(self.base, stage))

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

    return dedup_pipeline(images, cfg, checkpoint=(ckpt, n_buckets)).labels
