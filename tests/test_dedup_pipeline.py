"""End-to-end dedup correctness: planted dups recovered, recall >= 0.99 vs
the exact all-pairs oracle at identical config (BASELINE.json:2,14)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.datagen import generate_images, truth_sidecar
from jsonschema_jl_spark.operators.pipeline import dedup_pipeline
from jsonschema_jl_spark import oracle

N_ROWS = 2000
CFG = DedupConfig()


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, N_ROWS, CFG, with_bytes=False).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def result(images):
    return dedup_pipeline(images, CFG)


def test_gate_drops_malformed(result, spark):
    truth = truth_sidecar(spark, N_ROWS)
    labeled_ids = {r.image_id for r in result.labels.select("image_id").collect()}
    bad = {r.image_id for r in truth.filter(~F.col("gate_expect_valid")).collect()}
    assert labeled_ids.isdisjoint(bad)
    assert len(labeled_ids) == N_ROWS


def test_planted_pairs_clustered(result, spark):
    truth = truth_sidecar(spark, N_ROWS).filter(F.col("gate_expect_valid"))
    joined = (
        result.labels.join(truth, "image_id")
        .filter(F.col("dup_kind") != "none")
        .select("dup_group_id", "component", "dup_kind")
        .collect()
    )
    by_group: dict[int, set] = {}
    kinds: dict[int, str] = {}
    for r in joined:
        by_group.setdefault(r.dup_group_id, set()).add(r.component)
        kinds[r.dup_group_id] = r.dup_kind
    split = {g: kinds[g] for g, comps in by_group.items() if len(comps) > 1}
    frac_ok = 1 - len(split) / max(len(by_group), 1)
    assert frac_ok >= 0.99, f"split groups: {len(split)}/{len(by_group)} {dict(list(split.items())[:5])}"


def test_recall_vs_exact_oracle(result, images):
    pdf = images.filter(F.col("caption").isNotNull()).select(
        "image_id", "caption", "phash"
    ).toPandas()
    # oracle over valid rows only (gate-invalid rows are not dedup inputs)
    valid_mask = pdf["image_id"].str.match(r"^img[0-9]{12}$") & (pdf["caption"].str.len() >= 3)
    pdf = pdf[valid_mask].reset_index(drop=True)
    oracle_pairs = oracle.transitive_closure(oracle.oracle_dup_pairs(pdf, CFG))
    labels_pdf = result.labels.toPandas()
    engine_pairs = oracle.cluster_pairs(labels_pdf)
    rec = oracle.recall(engine_pairs, oracle_pairs)
    assert rec >= 0.99, f"recall {rec:.4f}; oracle {len(oracle_pairs)} engine {len(engine_pairs)}"
    # and clustering should not wildly over-merge: engine pairs beyond the
    # oracle closure stay a small fraction
    extra = len(engine_pairs - oracle_pairs)
    assert extra <= 0.05 * max(len(oracle_pairs), 1), f"{extra} extra pairs"


def test_no_cross_kind_contamination(result, spark):
    """Edges carry their detector kind; planted phash-pairs must be found by
    the phash pass (captions unrelated)."""
    kinds = {r.kind for r in result.edges.select("kind").distinct().collect()}
    assert {"caption", "phash", "substring"} <= kinds


def test_skew_metrics_final_after_edges(images, spark):
    """metrics["skew"] is read once the edges have materialized: with a
    bucket_cap small enough to cap planted groups' buckets it must equal a
    JVM groupBy("bucket").count() over the run's own band keys (read too
    early the accumulators give 0; read after a second kernel run they
    double).  The detectors persist nothing, so after cleanup() no cached
    RDD of the run is left."""
    import dataclasses

    # planted groups are pairs here: cap 1 caps every shared bucket
    cfg = dataclasses.replace(CFG, bucket_cap=1)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = dedup_pipeline(images, cfg)
    try:
        buckets = res.signatures.select(F.explode("bands").alias("bucket"))
        ref = (
            buckets.groupBy("bucket").count().filter(F.col("count") > cfg.bucket_cap)
            .agg(F.count("*").alias("b"), F.sum("count").alias("r")).collect()[0]
        )
        assert ref["b"] > 0
        assert res.metrics["skew"] == {"capped_buckets": ref["b"], "capped_rows": ref["r"]}
        assert res.labels.count() == N_ROWS
    finally:
        res.cleanup()
    # what the run leaves registered is only the local-checkpoint blocks of
    # its lineage cuts (edges, CC rounds), which Spark's ContextCleaner owns
    left = [v.rdd() for k, v in jsc.getPersistentRDDs().items() if k not in before]
    assert all(r.isCheckpointed() for r in left)


def _plan_nodes(node):
    yield node
    for i in range(node.children().size()):
        yield from _plan_nodes(node.children().apply(i))


def _is_part_exchange(node) -> bool:
    if "Exchange" not in node.nodeName():
        return False
    attrs = node.output()
    return [attrs.apply(i).name() for i in range(attrs.size())] == ["part", "block"]


def test_edges_plan_packs_every_detector(images, monkeypatch):
    """The uncached edges plan (what the pipeline hands to its edge
    materialization): each of the three detectors' pairing MapInArrow sits
    on exactly one Exchange, on the partition code, and no Generate node
    runs under any pairing task — group rows are built in the pack task."""
    frames = []
    cls = type(images)
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        frames.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    res = dedup_pipeline(images, CFG)
    res.cleanup()
    plan = frames[0]._jdf.queryExecution().executedPlan().initialPlan()
    pairing = [
        n for n in _plan_nodes(plan)
        if n.nodeName() == "MapInArrow" and _is_part_exchange(n.children().apply(0))
    ]
    assert len(pairing) == 3  # LSH, phash, containment
    for task in pairing:
        below = list(_plan_nodes(task))
        assert sum(_is_part_exchange(n) for n in below) == 1
        assert not [n.nodeName() for n in below if n.nodeName() == "Generate"]


def test_determinism_across_runs(result, images):
    again = dedup_pipeline(images, CFG)
    p1 = sorted((r.src, r.dst, r.kind) for r in result.edges.collect())
    p2 = sorted((r.src, r.dst, r.kind) for r in again.edges.collect())
    again.cleanup()
    assert p1 == p2


def test_degenerate_inputs(images, spark):
    """Empty input, gate-rejects-everything, and single-row corpora must
    produce empty/singleton label sets, not crash any stage (banding,
    pair-building, CC, and the verify kernels all see zero or one row)."""
    r = dedup_pipeline(images.limit(0), CFG)
    assert r.labels.count() == 0
    r.cleanup()
    allbad = images.withColumn("caption", F.lit(None).cast("string"))
    r = dedup_pipeline(allbad, CFG)
    assert r.labels.count() == 0  # every row gated out
    r.cleanup()
    r = dedup_pipeline(images.limit(1), CFG)
    one = r.labels.collect()
    assert len(one) == 1 and one[0].component is not None
    r.cleanup()
