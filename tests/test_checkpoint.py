"""Checkpoint/resume (P13): per-bucket manifests, lineage, metrics, and
config-hash isolation."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.datagen import generate_images
from jsonschema_jl_spark.io.checkpoint import (
    LAYOUT_VERSION,
    CheckpointManager,
    resumable_pipeline,
)
from jsonschema_jl_spark.operators import pipeline
from jsonschema_jl_spark.operators.pipeline import dedup_pipeline

CFG = DedupConfig()
N = 500
NB = 4


@pytest.fixture()
def images(spark):
    return generate_images(spark, N, CFG, with_bytes=False, with_malformed=False)


def _counted(monkeypatch, *names):
    """Count the calls dedup_pipeline makes to its module-level operator
    bindings `names`; returns {name: calls}."""
    calls = dict.fromkeys(names, 0)
    for name in names:
        fn = getattr(pipeline, name)

        def counted(*args, _fn=fn, _name=name, **kwargs):
            calls[_name] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(pipeline, name, counted)
    return calls


def test_write_resume_and_metrics(spark, images, tmp_path):
    root = str(tmp_path / "ckpt")
    ckpt = CheckpointManager(root, CFG, input_desc="test-images")
    resumable_pipeline(spark, images, ckpt, CFG, n_buckets=NB)
    sigs = ckpt.read_stage(spark, "signatures")
    assert sigs.count() == N
    assert sigs.columns == ["nid", "image_id", "txt_norm", "phash", "bands", "part_bucket"]
    m = ckpt.metrics()["signatures"]
    assert m["buckets_done"] == NB
    assert m["rows"] == N
    # lineage recorded
    manifest = ckpt.read_manifest("signatures")
    assert manifest["lineage"]["input"] == "test-images"
    assert manifest["config_hash"] == CFG.config_hash()

    # simulate a partial failure: delete one bucket + its manifest entry
    bdir = os.path.join(ckpt.base, "signatures", "part_bucket=2")
    shutil.rmtree(bdir)
    mp = os.path.join(ckpt.base, "signatures", "_manifest.json")
    man = json.load(open(mp))
    del man["buckets"]["2"]
    json.dump(man, open(mp, "w"))

    # resume: only the missing bucket is recomputed (others keep timestamps)
    before = {b: v["ts"] for b, v in man["buckets"].items()}
    resumable_pipeline(spark, images, ckpt, CFG, n_buckets=NB)
    assert ckpt.read_stage(spark, "signatures").count() == N
    man2 = json.load(open(mp))
    for b, ts in before.items():
        assert man2["buckets"][b]["ts"] == ts
    assert man2["buckets"]["2"]["done"]


def test_config_hash_isolation(spark, images, tmp_path):
    root = str(tmp_path / "ckpt")
    c1 = CheckpointManager(root, CFG)
    c2 = CheckpointManager(root, DedupConfig(jaccard_tau=0.8))
    assert c1.base != c2.base
    # a config the engine cannot run is refused, not hashed into a base dir
    with pytest.raises(ValueError, match="minhash_scheme"):
        DedupConfig(minhash_scheme="kperm")
    # the base dir also carries the on-disk layout version, so an engine
    # upgrade that changes a stage's stored columns (config_hash unchanged)
    # never resumes from an old-layout checkpoint
    assert c1.base.endswith(f"_L{LAYOUT_VERSION}")
    resumable_pipeline(spark, images, c1, CFG, n_buckets=2)
    assert c1.stage_complete("signatures", 2)
    assert not c2.stage_complete("signatures", 2)


def test_bucketing_is_deterministic(spark, images, tmp_path):
    ckpt = CheckpointManager(str(tmp_path / "c"), CFG)
    ckpt.write_stage(images.select("image_id", "caption"), "s", "image_id", n_buckets=NB)
    df = ckpt.read_stage(spark, "s")
    # no dup/dropped rows across buckets
    assert df.count() == N
    assert df.select("image_id").distinct().count() == N


def _assert_exactly_once(df):
    assert df.count() == df.select("image_id").distinct().count() == N


def test_resume_with_more_buckets_restarts_stage(spark, images, tmp_path):
    ckpt = CheckpointManager(str(tmp_path / "c"), CFG)
    rows = images.select("image_id", "caption")
    ckpt.write_stage(rows, "s", "image_id", n_buckets=4)
    ckpt.write_stage(rows, "s", "image_id", n_buckets=8)
    _assert_exactly_once(ckpt.read_stage(spark, "s"))
    assert ckpt.read_manifest("s")["lineage"]["n_buckets"] == 8
    assert ckpt.stage_complete("s", 8)
    assert not ckpt.stage_complete("s", 4)


def test_resume_with_fewer_buckets_after_partial_write(spark, images, tmp_path):
    root = str(tmp_path / "c")
    rows = images.select("image_id", "caption")
    killing = _KillingCkpt(root, CFG, fail_stage="s", fail_after=5)
    with pytest.raises(RuntimeError, match="mid-stage kill"):
        killing.write_stage(rows, "s", "image_id", n_buckets=8)
    ckpt = CheckpointManager(root, CFG)
    assert len(ckpt.completed_buckets("s")) == 5
    # 5 done buckets of 8 do not complete a 4-bucket stage
    assert not ckpt.stage_complete("s", 4)
    ckpt.write_stage(rows, "s", "image_id", n_buckets=4)
    _assert_exactly_once(ckpt.read_stage(spark, "s"))
    assert ckpt.completed_buckets("s") == {0, 1, 2, 3}


class _KillingCkpt(CheckpointManager):
    """CheckpointManager that dies after `fail_after` buckets of
    `fail_stage` finish — a faithful mid-stage kill: the manifest on disk
    records exactly the buckets whose parquet committed before the crash."""

    def __init__(self, *args, fail_stage: str, fail_after: int, **kw):
        super().__init__(*args, **kw)
        self._fail_stage, self._fail_after = fail_stage, fail_after

    def _write_manifest(self, stage: str, manifest: dict) -> None:
        super()._write_manifest(stage, manifest)
        if stage == self._fail_stage:
            done = sum(1 for v in manifest["buckets"].values() if v.get("done"))
            if done >= self._fail_after:
                raise RuntimeError("simulated mid-stage kill")


def test_resume_after_midstage_kill_sf001_corpus(spark, monkeypatch):
    """North-rule resume evidence at the sf0.01 corpus (input_hint-shaped
    images derived from the driver documents parquet): kill the run midway
    through the edges stage, resume with a fresh manager, and require
    (a) identical cluster partition to the direct non-checkpointed
    pipeline, (b) the completed signatures stage untouched by the resume
    and its kernel not run, (c) the edge buckets that committed before the
    kill skipped (their manifest entries byte-identical).  A second resume
    with only the labels stage deleted runs neither the kernel nor the
    candidate generator and leaves both upstream manifests byte-identical."""
    import tempfile
    from collections import defaultdict

    from jsonschema_jl_spark.datagen.from_documents import images_from_documents

    def partition(rows):
        comp = defaultdict(set)
        for r in rows:
            comp[r.component].add(r.image_id)
        return {frozenset(v) for v in comp.values()}

    def manifest_bytes(ckpt, stage):
        with open(os.path.join(ckpt.base, stage, "_manifest.json"), "rb") as fh:
            return fh.read()

    def counted_resume(ckpt):
        with monkeypatch.context() as mp:
            calls = _counted(mp, "normalize_signatures_bands", "candidate_pairs")
            labels = partition(resumable_pipeline(spark, images, ckpt, CFG, n_buckets=NB).collect())
        return labels, calls

    images = images_from_documents(spark, "/root/testdata/sf0.01").persist()
    images.count()
    with tempfile.TemporaryDirectory() as root:
        killing = _KillingCkpt(
            root, CFG, input_desc="sf0.01", fail_stage="edges", fail_after=2
        )
        with pytest.raises(RuntimeError, match="mid-stage kill"):
            resumable_pipeline(spark, images, killing, CFG, n_buckets=NB)

        ckpt = CheckpointManager(root, CFG, input_desc="sf0.01")
        assert ckpt.stage_complete("signatures", NB)
        edges_before = ckpt.read_manifest("edges")["buckets"]
        assert sum(1 for v in edges_before.values() if v.get("done")) == 2
        sig_manifest = ckpt.read_manifest("signatures")

        resumed, calls = counted_resume(ckpt)
        # the resume started at the edges stage: no gate or kernel pass
        assert calls == {"normalize_signatures_bands": 0, "candidate_pairs": 1}

        direct = dedup_pipeline(images, CFG)
        expected = partition(direct.labels.collect())
        direct.cleanup()
        assert resumed == expected
        # completed stages/buckets were skipped, not recomputed
        assert ckpt.read_manifest("signatures") == sig_manifest
        edges_after = ckpt.read_manifest("edges")["buckets"]
        for b, v in edges_before.items():
            if v.get("done"):
                assert edges_after[b] == v

        # a run killed in the labels stage resumes from the stored edges
        upstream = {s: manifest_bytes(ckpt, s) for s in ("signatures", "edges")}
        shutil.rmtree(os.path.join(ckpt.base, "labels"))
        relabeled, calls = counted_resume(ckpt)
        assert calls == {"normalize_signatures_bands": 0, "candidate_pairs": 0}
        assert relabeled == expected
        assert {s: manifest_bytes(ckpt, s) for s in upstream} == upstream
    images.unpersist()


def test_resumable_pipeline_matches_direct_and_resumes(spark, tmp_path):
    from collections import defaultdict

    images = generate_images(spark, 600, CFG, with_bytes=False).persist()
    ckpt = CheckpointManager(str(tmp_path / "rp"), CFG, input_desc="n600")
    def partition(rows):
        comp = defaultdict(set)
        for r in rows:
            comp[r.component].add(r.image_id)
        return {frozenset(v) for v in comp.values()}

    # materialize eagerly: the resume step below rewrites the stage files
    p1 = partition(resumable_pipeline(spark, images, ckpt, CFG, n_buckets=4).collect())

    direct = dedup_pipeline(images, CFG)
    assert p1 == partition(direct.labels.collect())
    direct.cleanup()

    # resume: wipe the labels stage only; signatures/edges must be reused
    import shutil as sh

    sh.rmtree(os.path.join(ckpt.base, "labels"))
    sig_manifest_before = ckpt.read_manifest("signatures")
    labels2 = resumable_pipeline(spark, images, ckpt, CFG, n_buckets=4)
    assert partition(labels2.collect()) == p1
    assert ckpt.read_manifest("signatures") == sig_manifest_before  # untouched
    images.unpersist()


def test_empty_stage_round_trips(spark, tmp_path):
    """A stage of zero rows leaves no parquet file; it reads back with the
    schema its manifest records."""
    ckpt = CheckpointManager(str(tmp_path / "c"), CFG)
    empty = spark.createDataFrame([], "src long, dst long, kind string")
    ckpt.write_stage(empty, "edges", "src", n_buckets=NB)
    back = ckpt.read_stage(spark, "edges")
    assert back.count() == 0
    assert back.columns == ["src", "dst", "kind", "part_bucket"]
    assert ckpt.stage_complete("edges", NB) and ckpt.stage_rows("edges") == 0


def test_resumable_pipeline_with_no_edges(spark, tmp_path):
    # ids 0-11 of a generated block are the planted singletons
    singles = generate_images(spark, 12, CFG, with_bytes=False, with_malformed=False)
    ckpt = CheckpointManager(str(tmp_path / "c"), CFG)
    labels = resumable_pipeline(spark, singles, ckpt, CFG, n_buckets=NB).collect()
    assert ckpt.stage_complete("edges", NB) and ckpt.stage_rows("edges") == 0
    assert len(labels) == 12
    assert len({r.component for r in labels}) == 12


def test_stale_staging_is_never_read(spark, images, tmp_path):
    """A kill leaves uncommitted buckets in `_staging`; a kill inside the
    write job also leaves part files and the committer's `_temporary`.  The
    next write discards all of it: nothing there is committed or read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "c")
    rows = images.select("image_id", "caption")
    killing = _KillingCkpt(root, CFG, fail_stage="s", fail_after=NB - 1)
    with pytest.raises(RuntimeError, match="mid-stage kill"):
        killing.write_stage(rows, "s", "image_id", n_buckets=NB)
    ckpt = CheckpointManager(root, CFG)
    assert ckpt.completed_buckets("s") == set(range(NB - 1))
    staging = os.path.join(ckpt.base, "s", "_staging")
    stale = os.path.join(staging, f"part_bucket={NB - 1}")
    os.makedirs(os.path.join(stale, "_temporary", "0"), exist_ok=True)
    junk = pa.Table.from_pandas(rows.limit(7).toPandas())
    pq.write_table(junk, os.path.join(stale, "part-00000-junk.snappy.parquet"))
    ckpt.write_stage(rows, "s", "image_id", n_buckets=NB)
    _assert_exactly_once(ckpt.read_stage(spark, "s"))
    assert ckpt.stage_rows("s") == N
    assert not os.path.exists(staging)


def test_stage_write_is_one_spark_job(spark, images, tmp_path):
    """Every missing bucket is written by one job (AQE may run the map stage
    of its repartition as a job of its own); nothing materializes the input
    first or counts the written buckets back."""
    import jsonschema_jl_spark.io.checkpoint as ckpt_mod

    sc = spark.sparkContext
    rows = images.select("image_id", "caption")
    ckpt = CheckpointManager(str(tmp_path / "c"), CFG)
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("ckpt-one-job", "one stage write")
    try:
        ckpt.write_stage(rows, "s", "image_id", n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-one-job")) == 2
    assert ckpt.completed_buckets("s") == set(range(8)) and ckpt.stage_rows("s") == N
    with open(ckpt_mod.__file__, encoding="utf-8") as fh:
        assert "localCheckpoint" not in fh.read()


def test_pipeline_metrics_always_present(spark, images, tmp_path):
    """Every run reports `skew` and `gate`.  A cold checkpointed run counts
    the same capped mass as the in-memory run; a run that reads a complete
    edges stage back ran no pairing kernel, so its `skew` is empty."""
    import dataclasses

    # planted groups are pairs: cap 1 caps every shared bucket
    cfg = dataclasses.replace(CFG, bucket_cap=1)
    direct = dedup_pipeline(images, cfg)
    direct.labels.count()
    direct.cleanup()
    skew = direct.metrics["skew"]
    assert skew["capped_buckets"] > 0 and skew["capped_rows"] > 0
    assert direct.metrics["gate"]["backend"] == "native"
    assert direct.metrics["gate"]["walked"] == 0  # no Python stage in the gate

    ckpt = CheckpointManager(str(tmp_path / "c"), cfg)
    cold = dedup_pipeline(images, cfg, checkpoint=(ckpt, NB))
    assert cold.metrics["skew"] == skew
    assert cold.metrics["gate"] == direct.metrics["gate"]

    shutil.rmtree(os.path.join(ckpt.base, "labels"))
    resumed = dedup_pipeline(images, cfg, checkpoint=(ckpt, NB))
    assert resumed.metrics["skew"] == {}
    assert resumed.metrics["gate"]["backend"] == "native"
    assert resumed.labels.count() == N
