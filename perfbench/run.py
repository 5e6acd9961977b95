#!/usr/bin/env python3
"""Repo benchmark: seeded workloads against the engine at local[nproc].

    python3 perfbench/run.py --workload images_dedup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, measured untraced; with
--trace 1 they are the per-layer metrics of one traced op.  Spans and a
per-op record are written under perfbench/out/ when the run ends.  The exit
code is non-zero on any failed correctness check.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {"full": {"images": 40_000, "docs": 200_000}, "smoke": {"images": 400, "docs": 3000}}
SETUPS = 2            # cold set-ups per run; setup_s is their median
DRIVER_MEM = "4g"     # the session default (48g) does not fit a 15 GB host
MB = 1 << 20


def _prepare_env(work: str) -> None:
    """Point Spark, its JVM and Python workers at the checkout only."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Have orphaned descendants (say a Python daemon whose JVM is gone)
    re-parented to this process instead of init, so _reap_all waits for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_all(grace_s: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    SIGTERM first, SIGKILL to what is left after grace_s."""
    import tracing

    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        kill = time.monotonic() > deadline
        for pid in tracing.children(os.getpid()):
            if kill or pid not in signalled:
                signalled.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if kill else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _session_conf(work: str, trace: bool) -> dict:
    conf = {
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # the traced run reads every job of the run back from the status store
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _layer_metrics(wl, tracer, totals: dict, traced_wall: float, untraced_wall: float) -> dict:
    """Per-layer metrics of one traced op from its spans and job groups."""
    import workloads

    m: dict[str, float] = {}
    layer_wall = 0.0  # of the traced op; checkpoint spans belong to the resume cycle
    for layer in workloads.LAYERS:
        spans = [s for s in tracer.spans if s["name"] == layer]
        wall = sum(s["end"] - s["start"] for s in spans)
        if layer != "checkpoint":
            layer_wall += wall
        t = totals.get(f"layer:{layer}", {})
        rows = [s["rows"] for s in spans if "rows" in s]
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.task_s"] = t.get("task_ms", 0) / 1e3
        m[f"{layer}.jvm_cpu_s"] = t.get("cpu_ns", 0) / 1e9
        m[f"{layer}.shuffle_write_mb"] = t.get("shuffle_write", 0) / MB
        m[f"{layer}.spill_mb"] = t.get("spill", 0) / MB
        m[f"{layer}.rows_out"] = rows[-1] if rows else 0
        m[f"{layer}.jobs"] = t.get("jobs", 0)
    ex = wl.extra
    gate_rows = [s.get("rows", 0) for s in tracer.spans if s["name"] == "gate"]
    m["gate.screen_rate"] = ex.get("screen_rate", 0.0)
    m["gate.walked_rows"] = ex.get("walked_rows", 0)
    m["gate.fallback_rows"] = ex.get("fallback_rows", 0)
    # json_gate reports its own: kept rows over all its passes
    n_in = wl.n + wl.meta.get("n_malformed", 0)
    m["gate.valid_frac"] = ex.get("valid_frac", gate_rows[-1] / n_in if gate_rows else 0.0)
    # per json_gate pass: the flat schema on both dynamic backends (the
    # dynamic_native keep-or-drop figure), clean and with intake defects
    passes = {s["gate_pass"]: s["end"] - s["start"] for s in tracer.spans
              if s["name"] == "gate" and "gate_pass" in s}
    for p in ("flat_screen", "flat_native", "intake_screen", "intake_native"):
        m[f"gate.{p}_wall_s"] = passes.get(p, 0.0)
    lsh_rows = {s.get("fn"): s.get("rows", 0) for s in tracer.spans if s["name"] == "lsh"}
    verified = [s.get("rows", 0) for s in tracer.spans if s["name"] == "verify"]
    m["lsh.bucket_rows"] = lsh_rows.get("band_buckets", 0)
    m["lsh.candidates"] = lsh_rows.get("candidate_pairs", 0)
    m["lsh.capped_rows"] = ex.get("capped_rows", 0)
    m["verify.precision"] = verified[-1] / m["lsh.candidates"] if verified and m["lsh.candidates"] else 0.0
    m["components.planted_recall"] = ex.get("planted_recall", 0.0)
    reads = [s for s in tracer.spans if s["name"] == "checkpoint" and s.get("fn") == "read_stage"]
    m["checkpoint.bytes_written"] = ex.get("ckpt_bytes", 0)
    m["checkpoint.read_s"] = sum(s["end"] - s["start"] for s in reads)
    m["checkpoint.resume_s"] = ex.get("resume_s", 0.0)
    m["checkpoint.bytes_per_row"] = ex.get("ckpt_bytes_per_row", 0.0)
    m["trace.reconcile"] = layer_wall / untraced_wall if untraced_wall else 0.0
    m["trace.overhead_s"] = traced_wall - untraced_wall
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, size: str, work: str, out_dir: str):
    """One benchmark run.  Returns (result line, record for out/)."""
    import tracing as tr
    import workloads
    from jsonschema_jl_spark.session import get_spark, shutdown_jvm, stop_spark

    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    sizes = SIZES[size]
    cls = workloads.WORKLOADS[workload]
    n = sizes["docs"] if workload == "json_gate" else sizes["images"]
    wl = cls(os.path.join(HERE, ".cache"), work, seed, n, cores)
    rec: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                 "cores": cores, "input": {k: v for k, v in wl.meta.items() if k != "oracle"}}
    attempted = failed = 0
    ops: list[dict] = []
    rec["ops"] = ops
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            # a cold set-up: JVM launch, session start, input opened
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{workload}", cores=cores,
                              extra_conf=_session_conf(work, trace))
            wl.open(spark)
            setups.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                stop_spark(spark)
                shutdown_jvm()
        rec["setup_s"] = setups

        def timed(fn, kind: str, **kw):
            nonlocal attempted, failed
            attempted += 1
            with tr.HostNoise() as noise:
                t0 = time.perf_counter()
                try:
                    out = fn(**kw) or {}
                    ok, err = True, None
                except workloads.CheckFailed as e:
                    out, ok, err = {}, False, str(e)
                wall = time.perf_counter() - t0
            failed += not ok
            ops.append({"kind": kind, "wall_s": wall, "ok": ok, "error": err,
                        "steal_frac": noise.steal_frac, "loadavg": noise.loadavg, **out})
            return ok

        for _ in range(wl.warmups):
            timed(wl.warmup, "warmup")
        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid  # noqa: SLF001
        with tr.RssSampler(jvm_pid) as rss:
            t_end = time.perf_counter() + seconds
            while True:
                timed(wl.op, "op")
                if time.perf_counter() >= t_end:
                    break
        wall = _median([o["wall_s"] for o in ops if o["kind"] == "op"])
        rec["peak_rss_mb"] = rss.peak_kb / 1024
        if trace:
            tracer = tr.Tracer(sc)
            with tracer.span("op", group="trace:op"):
                timed(wl.op, "traced", tracer=tracer)
            traced_wall = ops[-1]["wall_s"]
            if hasattr(wl, "resume_cycle"):
                with tracer.span("resume", group="trace:resume"):
                    timed(wl.resume_cycle, "resume", tracer=tracer)
            totals = tr.group_stage_totals(sc)
            metrics = _layer_metrics(wl, tracer, totals, traced_wall, wall)
            rec["groups"] = {str(k): v for k, v in totals.items()}
            tracer.write(os.path.join(out_dir, f"spans_{workload}_s{seed}.json"))
        else:
            metrics = {
                "setup_s": _median(setups),
                "wall_s": wall,
                "rows_per_s": wl.n / wall,
            }
        rec["extra"] = wl.extra
    except Exception:  # noqa: BLE001 - a run that cannot finish reports and fails
        traceback.print_exc()
        attempted, failed, metrics = max(attempted, 1), max(failed, 1), {}
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            finally:
                shutdown_jvm()
    rec["metrics"] = metrics
    return {"correct": failed == 0, "attempted": attempted, "failed": failed}, rec


def _print_record(rec: dict, units: dict) -> None:
    inp = rec["input"]
    print(f"# {rec['workload']} seed={rec['seed']} cores={rec['cores']} "
          f"input_gen_s={inp.get('gen_s', 0):.2f} cached={inp.get('cached')}")
    if rec.get("setup_s"):
        print("#   setups  " + " ".join(f"{v:.3f}" for v in rec["setup_s"]))
    for o in rec.get("ops", []):
        print(f"#   {o['kind']:7s} wall_s={o['wall_s']:.3f} ok={o['ok']} "
              f"steal={o['steal_frac']:.3f} load1={o['loadavg']:.2f}"
              + (f" error={o['error']}" if o["error"] else ""))
    walls = sorted(o["wall_s"] for o in rec.get("ops", []) if o["kind"] == "op")
    if walls:
        # the highest percentile with at least 10 samples beyond it
        top = (f"p{100 * (len(walls) - 10) // len(walls)}={walls[len(walls) - 11]:.3f}s"
               if len(walls) > 20 else "no percentile above the median has 10 samples beyond it")
        print(f"#   ops n={len(walls)} median={_median(walls):.3f}s max={walls[-1]:.3f}s ({top})")
    if "peak_rss_mb" in rec:
        print(f"#   peak_rss_mb = {rec['peak_rss_mb']:.1f} (JVM + Python workers, measured ops)")
    for k, v in sorted(rec.get("extra", {}).items()):
        print(f"#   {k} = {v}")
    for k, v in rec["metrics"].items():
        print(f"{k} = {v:.6g} {units.get(k, '')}")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _units(spec: dict) -> dict:
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def smoke(work: str, out_dir: str) -> int:
    """Tiny inputs, every workload, both trace modes: every declared metric
    must be emitted as a finite number under a valid name."""
    spec = _load_spec()
    name_ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    bad = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] if not name_ok.match(m["name"])]
    problems = [f"invalid metric name {n}" for n in bad]
    for w in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            result, rec = run(w["name"], 0, 0.1, trace, "smoke", work, out_dir)
            _print_record(rec, _units(spec))
            if not result["correct"]:
                problems.append(f"{w['name']} trace={int(trace)}: failed correctness")
            got = rec["metrics"]
            for m in spec[key]:
                v = got.get(m["name"])
                if not isinstance(v, (int, float)) or v != v or v in (float("inf"), float("-inf")):
                    problems.append(f"{w['name']} trace={int(trace)}: {m['name']} missing")
            extra = set(got) - {m["name"] for m in spec[key]}
            problems += [f"{w['name']}: undeclared metric {e}" for e in sorted(extra)]
    for p in problems:
        print("SMOKE FAIL:", p)
    print("SMOKE OK" if not problems else f"SMOKE FAILED ({len(problems)})")
    return 0 if not problems else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny-size self-check of every metric")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jsonschema_jl_spark", "__init__.py")):
        print("perfbench: engine package jsonschema_jl_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    _become_subreaper()
    # a SIGTERM unwinds through the finally below, which stops what the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    try:
        if args.smoke:
            return smoke(work, out_dir)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
        result, rec = run(args.workload, args.seed, args.seconds, bool(args.trace), "full", work, out_dir)
        spec = _load_spec()
        units = _units(spec)
        with open(os.path.join(out_dir, f"run_{args.workload}_s{args.seed}_t{args.trace}.json"),
                  "w", encoding="utf-8") as fh:
            json.dump({**rec, **result}, fh, indent=1, default=str)
        _print_record(rec, units)
        result["metrics"] = {k: {"value": v, "unit": units.get(k, "")} for k, v in rec["metrics"].items()}
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
