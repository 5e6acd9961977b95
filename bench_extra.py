"""Per-stage isolation bench for the dedup pipeline (guide §1.1/§1.4).

NOT the driver bench (`bench.py` is frozen for measurement) — this is the
diagnostic harness behind OPTIMIZATION_r06.md: it times each pipeline stage
in isolation with the noop sink, mirroring `dedup_pipeline`'s exact staging
(same persists, same cache registries, same partition counts), and then the
pipeline-structured phases (edge checkpoint, CC, label join) so the sum can
be reconciled against the end-to-end pipeline_full number.

Usage: python bench_extra.py [parquet_path] [reps]
Defaults to the tmpfs copy of the sf0.1 bench input and 2 reps (min kept).
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.session import get_spark
from jsonschema_jl_spark.gate.gate import gate_filter
from jsonschema_jl_spark.operators.pipeline import IMAGES_GATE_SCHEMA, dedup_pipeline
from jsonschema_jl_spark.operators.minhash import (
    normalize_signatures_bands,
    with_signatures,
)
from jsonschema_jl_spark.operators.lsh import band_buckets, candidate_pairs
from jsonschema_jl_spark.operators.verify import verify_jaccard_text
from jsonschema_jl_spark.operators.phash import phash_pairs
from jsonschema_jl_spark.operators.substring import containment_pairs
from jsonschema_jl_spark.operators.components import connected_components

CFG = DedupConfig()


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else \
        "/dev/shm/benchdata/images_n100000_v5.parquet"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "bench_extra", cores=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.driver.extraJavaOptions": "-Xms16g",
        },
    )
    images = spark.read.parquet(path)

    # one full warm run (JIT + python worker pool), as bench.py does
    res = dedup_pipeline(images, CFG, collect_metrics=False)
    res.labels.count()
    res.cleanup()

    out: dict[str, float] = {}

    def t(name: str, fn, n: int = reps) -> float:
        best = None
        for _ in range(n):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn()
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 2)
        print(f"{name:34s} {best:6.2f}s", flush=True)
        return best

    # ---- stage isolation (each mirrors dedup_pipeline's staging) ----
    t("scan_only", lambda: noop(images.select("image_id", "caption", "phash")))
    t("scan_bytes", lambda: noop(images))
    t("gate_count", lambda: gate_filter(images, IMAGES_GATE_SCHEMA).count())

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def make_slim():
        valid = gate_filter(images, IMAGES_GATE_SCHEMA)
        pruned = valid.select(
            F.xxhash64("image_id").alias("nid"),
            "image_id",
            F.col("caption"),
            "phash",
        ).repartition(par)
        return normalize_signatures_bands(
            pruned, text_col="caption", cfg=CFG, out_text_col="txt_norm"
        )

    t("slim_noop", lambda: noop(make_slim()))

    # persisted slim for the branch isolation (as the pipeline holds it)
    slim = make_slim().persist()
    n_valid = slim.count()
    hot_par = max(par, n_valid // 50_000)

    t("band_explode_noop",
      lambda: noop(band_buckets(slim, id_col="nid", cfg=CFG, bands_col="bands")))

    def run_cands():
        buckets = band_buckets(slim, id_col="nid", cfg=CFG, bands_col="bands")
        noop(candidate_pairs(buckets, CFG, num_partitions=hot_par))

    t("candidate_pairs_noop", run_cands)

    def run_verify():
        buckets = band_buckets(slim, id_col="nid", cfg=CFG, bands_col="bands")
        cands = candidate_pairs(buckets, CFG, num_partitions=hot_par)
        noop(verify_jaccard_text(
            cands, slim, id_col="nid", text_col="txt_norm", cfg=CFG,
            assume_normalized=True, num_partitions=hot_par,
        ))

    t("verify_noop", run_verify)

    def run_phash():
        noop(phash_pairs(slim, id_col="nid", cfg=CFG, num_partitions=hot_par))

    t("phash_noop", run_phash)

    def run_containment():
        noop(containment_pairs(
            slim, id_col="nid", text_col="txt_norm", cfg=CFG,
            assume_normalized=True, num_partitions=hot_par,
        ))

    t("containment_noop", run_containment)
    slim.unpersist()

    # ---- pipeline-structured phases (one run, timers at the pipeline's
    # own action barriers) ----
    for rep in range(reps):
        marks: dict[str, float] = {}
        t0 = time.time()
        res = dedup_pipeline(images, CFG, collect_metrics=False)
        marks["pipeline_plan+edges+cc"] = time.time() - t0
        t1 = time.time()
        n = res.labels.count()
        marks["pipeline_label_join"] = time.time() - t1
        marks["pipeline_total"] = time.time() - t0
        res.cleanup()
        for k, v in marks.items():
            key = f"{k}"
            if key not in out or v < out[key]:
                out[key] = round(v, 2)
        print(f"pipeline rep {rep}: total {marks['pipeline_total']:.2f}s "
              f"(build {marks['pipeline_plan+edges+cc']:.2f} + "
              f"label-join {marks['pipeline_label_join']:.2f}), rows {n}",
              flush=True)

    import json
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
