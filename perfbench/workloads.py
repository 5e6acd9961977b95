"""The benchmark's workloads: inputs, one timed op, and its correctness check.

Each workload opens its seeded input, runs its warm-up ops, then repeats its
op.  ``op()`` is the untraced op whose wall time feeds the end-to-end
metrics; ``op(tracer)`` runs the same op with every call into a layer's
public function in a span and a job group, and with that call's output
materialized before the next layer starts.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import functions as F

import inputs

import __spark_entry__ as contract
from jsonschema_jl_spark.config import DEFAULT_CONFIG as CFG
from jsonschema_jl_spark.gate import gate as gate_mod
from jsonschema_jl_spark.gate.gate import GateMetrics
from jsonschema_jl_spark.io import checkpoint as ckpt_mod
from jsonschema_jl_spark.operators import (
    components, lsh, minhash, phash, pipeline, substring, verify,
)

# layer -> the public functions it covers, by the module that defines them.
# dedup_pipeline binds its imports at module load, resumable_pipeline at
# call time, so each function is wrapped both in `pipeline` and at home.
LAYER_FUNCS = {
    "gate": [(gate_mod, "gate_filter")],
    "minhash": [(minhash, "normalize_signatures_bands"), (minhash, "with_signatures")],
    "lsh": [(lsh, "band_buckets"), (lsh, "candidate_pairs")],
    "verify": [(verify, "verify_jaccard_text")],
    "phash": [(phash, "phash_pairs")],
    "substring": [(substring, "containment_pairs")],
    "components": [(components, "connected_components")],
}
LAYERS = [*LAYER_FUNCS, "checkpoint"]

WARMUP_IMAGES = 2000

JSON_SCHEMAS = {
    "events_dyn": contract._EVENTS_DYN_SCHEMA,
    "combo": contract._COMBO_SCHEMA,
    "compound": contract._EVENTS_COMPOUND_SCHEMA,
}


class CheckFailed(Exception):
    pass


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


@contextlib.contextmanager
def traced_layers(tracer):
    """Wrap every layer function: job group + span + materialized output,
    with the output's row count recorded in the span."""
    saved = []

    def wrap(layer: str, fn):
        def traced(*args, **kwargs):
            with tracer.span(layer, group=f"layer:{layer}", fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
                # candidate_pairs(with_metrics=True) returns (df, SkewMetrics)
                df = out[0] if isinstance(out, tuple) else out
                df = df.localCheckpoint(eager=True)
                s["rows"] = df.count()
            return (df, *out[1:]) if isinstance(out, tuple) else df

        return traced

    for layer, funcs in LAYER_FUNCS.items():
        for mod, name in funcs:
            fn = getattr(mod, name)
            w = wrap(layer, fn)
            for target in (mod, pipeline):
                if getattr(target, name, None) is fn:
                    saved.append((target, name, fn))
                    setattr(target, name, w)
    try:
        yield
    finally:
        for target, name, fn in saved:
            setattr(target, name, fn)


class TracedCheckpointManager(ckpt_mod.CheckpointManager):
    """CheckpointManager whose stage writes and reads are checkpoint spans.

    write_stage materializes its input before the bucket loop; here that
    step runs first, outside the span, so the write span holds only the
    bucketed parquet write and the manifest update.  read_stage is lazy and
    so is its span: the scan runs in the jobs of the stage that reads it."""

    def __init__(self, tracer, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def write_stage(self, df, stage, id_col, n_buckets=8, resume=True, materialize=True):
        if materialize:
            with self.tracer.span("glue", stage=stage):
                df = df.localCheckpoint(eager=True)
        with self.tracer.span("checkpoint", group="layer:checkpoint", fn="write_stage", stage=stage) as s:
            path = super().write_stage(df, stage, id_col, n_buckets, resume, materialize=False)
        s["rows"] = self.metrics()[stage]["rows"]
        return path

    def read_stage(self, spark, stage):
        with self.tracer.span("checkpoint", group="layer:checkpoint", fn="read_stage", stage=stage):
            return super().read_stage(spark, stage)


# -- image workload -------------------------------------------------------------

class ImagesDedup:
    """dedup_pipeline over seeded images with planted duplicates."""

    name = "images_dedup"
    warmups = 2

    def __init__(self, cache_root: str, work: str, seed: int, n: int, workers: int) -> None:
        self.meta = inputs.image_input(cache_root, seed, n, workers)
        self.n = n
        self.work = work
        start = self.meta["start"]
        self.pairs = inputs.planted_pairs(start, n)
        self.expected_ids = [f"img{i:012d}" for i in range(start, start + n)]
        self.reference_hist: dict | None = None
        self.extra: dict = {}

    def open(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.meta["path"])
        rows = self.df.count()
        _check(rows == self.n + self.meta["n_malformed"], f"input rows {rows}")

    def check_labels(self, labels, what: str) -> dict:
        """labels (pandas: image_id, component) -> recall; the cluster-size
        histogram must equal the first op's."""
        _check(len(labels) == self.n, f"{what}: {len(labels)} labeled rows != {self.n}")
        _check(sorted(labels["image_id"]) == self.expected_ids, f"{what}: labeled ids != valid ids")
        hist = labels.groupby("component").size().value_counts().sort_index()
        hist = {int(k): int(v) for k, v in hist.items()}
        if self.reference_hist is None:
            self.reference_hist = hist
        _check(hist == self.reference_hist, f"{what}: cluster-size histogram differs from the first op")
        comp = dict(zip(labels["image_id"], labels["component"]))
        hit = sum(comp[a] == comp[b] for a, b in self.pairs)
        return {"planted_recall": hit / len(self.pairs), "planted_hits": hit,
                "clusters": sum(hist.values())}

    def op(self, tracer=None) -> dict:
        with traced_layers(tracer) if tracer else contextlib.nullcontext():
            res = pipeline.dedup_pipeline(self.df, CFG)
            try:
                labels = res.labels.toPandas()
            finally:
                res.cleanup()
        out = self.check_labels(labels, "dedup_pipeline")
        out["capped_rows"] = res.metrics["skew"]["capped_rows"]
        self.extra.update(out)
        return out

    def warmup(self) -> dict:
        """dedup_pipeline over the window's first WARMUP_IMAGES ids: the
        same plans, Python workers and JIT-compiled code as a full op, at a
        fraction of its cost."""
        m = min(self.n, WARMUP_IMAGES)
        ids = F.col("image_id")
        part = self.df.where((ids >= self.expected_ids[0]) & (ids <= self.expected_ids[m - 1]))
        res = pipeline.dedup_pipeline(part, CFG)
        try:
            rows = res.labels.count()
        finally:
            res.cleanup()
        _check(rows == m, f"warm-up: {rows} labeled rows != {m}")
        return {}

    def resume_cycle(self, tracer) -> dict:
        """io.checkpoint.resumable_pipeline over the same images: a cold
        checkpointed run, a simulated kill after the signatures stage, and a
        resume.  The cold run's stage writes and reads are checkpoint spans;
        the resume runs untraced on the plain CheckpointManager and is timed
        as resume_s.  Both label sets must match the dedup_pipeline histogram."""
        root = os.path.join(self.work, "ckpt")
        shutil.rmtree(root, ignore_errors=True)
        cold = ckpt_mod.resumable_pipeline(
            self.spark, self.df, TracedCheckpointManager(tracer, root, CFG), CFG
        ).toPandas()
        written = dir_bytes(root)
        # the kill: the signatures stage completed, the later ones never did
        base = ckpt_mod.CheckpointManager(root, CFG).base
        for stage in ("edges", "labels"):
            shutil.rmtree(os.path.join(base, stage))
        t0 = time.perf_counter()
        resumed = ckpt_mod.resumable_pipeline(
            self.spark, self.df, ckpt_mod.CheckpointManager(root, CFG), CFG
        ).toPandas()
        resume_s = time.perf_counter() - t0
        shutil.rmtree(root, ignore_errors=True)
        self.check_labels(cold, "cold checkpointed run")
        self.check_labels(resumed, "resumed run")
        out = {"resume_s": resume_s, "ckpt_bytes": written, "ckpt_bytes_per_row": written / self.n}
        self.extra.update(out)
        return out


# -- JSON gate workload ---------------------------------------------------------

class JsonGate:
    """gate_filter over the contract's dynamic-gate docs: each schema on its
    own doc column with the default screen backend, the flat schema also on
    the dynamic_native backend, and both backends again on the intake copy
    of the flat doc, whose defects make the screen refuse whole batches.
    Every pass's kept rows must match the DuckDB verdict (count and two id
    checksums), and the native passes must keep the screen passes' rows."""

    name = "json_gate"
    warmups = 1
    # (pass, doc column, dynamic_native)
    PASSES = (
        ("flat_screen", "props", False),
        ("flat_native", "props", True),
        ("combo_screen", "combo", False),
        ("compound_screen", "compound", False),
        ("intake_screen", "intake", False),
        ("intake_native", "intake", True),
    )

    def __init__(self, cache_root: str, work: str, seed: int, n: int, workers: int) -> None:
        self.meta = inputs.doc_input(cache_root, seed, n)
        self.n = n
        self.extra: dict = {}

    def open(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.meta["path"])
        rows = self.df.count()
        _check(rows == self.n, f"input rows {rows}")

    @staticmethod
    def _digest(kept) -> list[int]:
        row = kept.agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum("doc_id"), F.lit(0)),
            F.coalesce(F.sum((F.col("doc_id") * F.col("doc_id")) % F.lit(inputs.SUMSQ_MOD)), F.lit(0)),
        ).collect()[0]
        return [int(v) for v in row]

    def _pass(self, tracer, name: str, col: str, native: bool) -> tuple[list[int], dict]:
        gm = GateMetrics(self.spark)
        schema = JSON_SCHEMAS[inputs.DOC_SCHEMA[col]]
        span = (tracer.span("gate", group="layer:gate", fn="gate_filter", gate_pass=name)
                if tracer else contextlib.nullcontext({}))
        with span as s:
            kept = gate_mod.gate_filter(self.df.select("doc_id", col), schema, json_col=col,
                                        metrics=gm, dynamic_native=native)
            digest = self._digest(kept)
            s["rows"] = digest[0]
        return digest, gm.as_dict()

    def op(self, tracer=None) -> dict:
        screened = screen_walked = walked = fallback = kept = 0
        oracle = self.meta["oracle"]
        rates = {}
        for name, col, native in self.PASSES:
            digest, gm = self._pass(tracer, name, col, native)
            _check(digest == oracle[col], f"{name}: kept {digest} != DuckDB {oracle[col]}")
            rates[name] = gm["screen_rate"]
            walked += gm["walked"]
            fallback += gm["fallback_rows"]
            kept += digest[0]
            if not native and col != "intake":
                screened += gm["screened_valid"] + gm["screened_invalid"]
                screen_walked += gm["walked"]
        out = {
            # over the screen passes of the clean docs; the native passes walk
            # only the rows their variant lane refuses
            "screen_rate": screened / (screened + screen_walked) if screened + screen_walked else 0.0,
            "walked_rows": walked,
            "fallback_rows": fallback,
            "valid_frac": kept / (len(self.PASSES) * self.n),
            "pass_screen_rate": rates,
        }
        self.extra.update(out)
        return out

    warmup = op


WORKLOADS = {w.name: w for w in (ImagesDedup, JsonGate)}
