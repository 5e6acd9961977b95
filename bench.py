"""Benchmark: north-rule pipeline throughput + scaling evidence.

Headline: images/sec of the full validation-gated dedup pipeline
(gate -> shingle/MinHash -> LSH -> Jaccard verify -> phash Hamming ->
containment -> connected components) over a deterministic synthetic images
table sized by $SPARK_GRAFT_SF_DIR (1M rows/sf-unit: sf0.1 -> 100k rows).

Prints the headline JSON line TWICE: once immediately after the main-phase
timings (flushed, so a driver timeout during the scaling phase still yields
the throughput numbers), and once — extended with the `scaling` record — as
the final line when everything completes:
  {"metric": "images_per_sec", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "scaling": {"thr_local1": ..., "thr_local4": ..., "efficiency": ...}}

Scaling evidence (BASELINE.md): no real cluster in the sandbox, so the same
job runs at two taskset-pinned parallelism levels (default local[1] ->
local[4]) on the same tmpfs input with identical partitioning; efficiency =
(thr_4N / thr_N) / 4, equal clean-rep counts per level, reps gated on
CPU-steal and memory-bandwidth probes before AND after each rep.
SPARK_GRAFT_SCALE_MODE=paired switches to INTERLEAVED reps (both workers
resident on disjoint pinned core sets, alternating timed reps,
`_paired_scaling`): per-round same-window ratios expose host-load drift the
per-level protocol cannot see.  Default remains the sequential protocol of
record (BENCH_r01-r03 comparability).
Disable with SPARK_GRAFT_BENCH_SCALING=0.

Wall-clock budget: the whole run is time-boxed by SPARK_GRAFT_BENCH_BUDGET
seconds (default 2700, well under the driver's limit).  The scaling phase
consumes what the main phase leaves, split between the two levels in
proportion to their expected per-rep cost (~1/cores); each level's worker
stops drawing reps when its share is exhausted and reports the best clean
reps so far with `budget_exhausted: true` — a partial scaling record beats
none (BENCH_r03 was rc=124/parsed-null exactly because the old layout
printed nothing until the full scaling phase finished).  Budget checks gate
*starting* a rep, never interrupt one, so the worst-case overshoot is one
rep + teardown.  Two further binds (round-4 review): the whole scaling
phase is skipped — flagged in the record — when the main phase leaves less
than SPARK_GRAFT_SCALE_MIN (default 600 s), and each worker skips its
untimed full-size warmup when warmup + one rep cannot fit its share
(`warm_skipped: true`; rep one then absorbs the JIT/heap-shaping one-offs
and the min-of-clean-reps protocol discards it if inflated).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.session import get_spark, shutdown_jvm, stop_spark
from jsonschema_jl_spark.datagen import generate_images
from jsonschema_jl_spark.gate.gate import gate_filter
from jsonschema_jl_spark.operators.pipeline import IMAGES_GATE_SCHEMA, dedup_pipeline
from jsonschema_jl_spark.operators.minhash import with_signatures

CFG = DedupConfig()
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
DATAGEN_V = 5  # bump to invalidate cached input (v5: 16MB row groups — see input_path)


def sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def input_path(spark, n_rows: int) -> str:
    """Cached deterministic input, written with 16 MB parquet row groups.

    Why the row-group size matters here and not at 100 TB: Spark sizes scan
    splits to max(openCost, totalBytes/defaultParallelism) capped at
    maxPartitionBytes, but a byte-range split only yields the row groups
    whose MIDPOINT falls inside it — with the writer-default 128 MB row
    groups this input is 4 files x 2 row groups = 8 effective splits, and
    event-log profiling showed exactly that: 24 of 32 first-pass scan tasks
    read ZERO rows while 8 ran ~12 s each (the whole gate+normalize+MinHash
    corpus pass at 25% core utilization).  A real 10^12-row table has
    thousands of row groups per core so every split is productive; 16 MB
    row groups (~50 per sf0.1 file) restore that property at bench scale —
    this mirrors the real table's granularity rather than tuning for the
    bench."""
    path = os.path.join(CACHE, f"images_n{n_rows}_v{DATAGEN_V}.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        # 32-way generation: the default (rows/50k) partitioning generated
        # the 648k-row scale input 12-wide on a 32-core box — pure untimed
        # setup, but it eats the wall budget the scaling phase needs
        df = generate_images(
            spark, n_rows, CFG, with_bytes=True,
            num_partitions=max(32, (n_rows + int(0.08 * n_rows)) // 50_000),
        )
        df.write.mode("overwrite").option(
            "parquet.block.size", str(16 * 1024 * 1024)
        ).parquet(path)
    return path


def run_pipeline(spark, path: str, deadline_main: float | None = None) -> tuple[dict, int, int, dict]:
    """Returns per-stage seconds + labeled row count + headline-rep detail.
    Stage timings are taken after one full warmup run (JIT + python worker
    pool); the headline pipeline number is PROBE-GATED min-of-clean-reps
    (same gates as the scaling workers: machine steal <= 4%, memcpy probe
    >= 6 GB/s both ends, two cleanest reps within 1.3x) — the round-4
    dress rehearsal showed a main-phase storm inflating even min-of-3
    (headline 2,656 img/s vs the ~6,900 clean reading) while the probe-
    gated scaling phase of the SAME run stayed clean.  Redraws are bounded
    by `deadline_main` so the headline never eats the scaling phase's
    budget share."""
    timings: dict[str, float] = {}
    images = spark.read.parquet(path)

    warm = dedup_pipeline(images, CFG, collect_metrics=False)
    warm.labels.count()
    warm.cleanup()

    # each timed query gets its own warm run (as gate_dynamic always had):
    # the first action after the big warm pipeline absorbs that run's
    # deferred cleanup (ContextCleaner unpersists, GC of shuffle state) —
    # measured 8.8 s for a native gate whose steady state is ~1 s
    def _min_of_2(fn, draws_n: int = 3) -> float:
        """min over a few timed draws — host storms only ever inflate (the
        full-rehearsal record shows a warmed native gate drawing 51 s vs its
        0.9 s steady state on a single storm-hit draw; a v6-run storm window
        inflated min-of-2 gate_dynamic to 4.39 s vs its 0.67 s steady state,
        hence three draws: each is ~0.5-4 s, so the extra draw costs seconds
        against the 2700 s budget)."""
        draws = []
        for _ in range(draws_n):
            t0 = time.time()
            fn()
            draws.append(time.time() - t0)
        return round(min(draws), 2)

    gate_filter(images, IMAGES_GATE_SCHEMA).count()  # warm
    n_valid = gate_filter(images, IMAGES_GATE_SCHEMA).count()
    timings["gate"] = _min_of_2(
        lambda: gate_filter(images, IMAGES_GATE_SCHEMA).count()
    )

    slim = gate_filter(images, IMAGES_GATE_SCHEMA).select("image_id", "caption", "phash")
    # keep_shingles=False matches what the pipeline actually materializes
    # (verification recomputes shingles for candidates only)
    sigs = with_signatures(slim, cfg=CFG, keep_shingles=False)
    sigs.write.mode("overwrite").format("noop").save()  # warm
    timings["signatures"] = _min_of_2(
        lambda: sigs.write.mode("overwrite").format("noop").save()
    )

    # dynamic-mode gate (Arrow dict-tree UDF over a JSON column) — the
    # residual path's throughput, vs the native-Column path above
    events_path = os.path.join(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), "events.parquet"
    )
    if os.path.exists(events_path):
        from jsonschema_jl_spark.gate.gate import GateMetrics, apply_gate

        ev = spark.read.parquet(events_path)
        dyn_schema = {
            "type": "object",
            "required": ["k"],
            "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
        }
        apply_gate(ev, dyn_schema, json_col="props").filter("isvalid").count()  # warm
        timings["gate_dynamic"] = _min_of_2(
            lambda: apply_gate(ev, dyn_schema, json_col="props")
            .filter("isvalid").count()
        )
        timings["gate_dynamic_rows"] = ev.count()
        # verdict-only fast path: certainly-INVALID rows also skip the dict
        # walk (corpus-cleaning shape: the rejected 5-30% were the slowest
        # rows before this).  The timed run carries GateMetrics accumulators
        # (negligible overhead) so the screen hit-rate — the dynamic gate's
        # cost multiplier — is observable per bench run.
        gate_filter(ev, dyn_schema, json_col="props").count()  # warm
        best, gm = None, None
        for _ in range(2):
            g = GateMetrics(spark)
            t0 = time.time()
            gate_filter(ev, dyn_schema, json_col="props", metrics=g).count()
            dt = round(time.time() - t0, 2)
            if best is None or dt < best:
                best, gm = dt, g
        timings["gate_dynamic_filter"] = best
        timings["gate_dynamic_screen_rate"] = gm.as_dict()["screen_rate"]
        # frozen key: the same screen pass as gate_dynamic_filter, unmetered
        timings["gate_dynamic_native"] = _min_of_2(
            lambda: gate_filter(ev, dyn_schema, json_col="props").count()
        )
        # screened-combo shape (union type list, multipleOf, scalar oneOf,
        # top-level anyOf/not — the round-4 screen extensions): regressions
        # on the NEW keyword families are observable here, not just the
        # flat shape (round-4 ask #6)
        import __spark_entry__ as _entry

        combo_schema = _entry._COMBO_SCHEMA
        k_js = F.get_json_object("props", "$.k").cast("long")
        obj = F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit('{"k": '), k_js.cast("string"), F.lit("}")),
        ).otherwise(
            F.concat(
                F.lit('{"k": '), k_js.cast("string"),
                F.lit(', "tag": "'), F.col("event_type"), F.lit('"}'),
            )
        )
        evc = ev.withColumn("obj_json", obj)
        apply_gate(evc, combo_schema, json_col="obj_json").filter("isvalid").count()
        best, gm = None, None
        for _ in range(2):
            g = GateMetrics(spark)
            t0 = time.time()
            gate_filter(evc, combo_schema, json_col="obj_json", metrics=g).count()
            dt = round(time.time() - t0, 2)
            if best is None or dt < best:
                best, gm = dt, g
        timings["gate_dynamic_combo"] = best
        timings["gate_dynamic_combo_screen_rate"] = gm.as_dict()["screen_rate"]

    # headline reps: probe-gated like the scaling workers.  A rep is CLEAN
    # when machine steal stayed <= 4% and the memcpy probe read >= 6 GB/s
    # immediately before AND after it; keep drawing (first two always run,
    # then bounded by attempts + deadline_main) until the two fastest clean
    # reps agree within 1.3x.  Each rep is ~16-40 s at sf0.1/local[32], so
    # even the 6-attempt worst case costs ~3 min against a 2700 s budget.
    runs, clean, steals, bands = [], [], [], []
    n_labeled = 0
    attempts, max_attempts = 0, 6
    headline_ok = False
    while attempts < max_attempts:
        if attempts >= 2:
            if headline_ok:
                break
            est = min(runs) if runs else 30.0
            if deadline_main is not None and time.time() + est > deadline_main:
                break
        attempts += 1
        bw0 = _mem_bandwidth_gbs()
        s0, t0 = _steal_jiffies(), time.time()
        res = dedup_pipeline(images, CFG)
        n_labeled = res.labels.count()
        dt = time.time() - t0
        steal_frac = (_steal_jiffies() - s0) / 100.0 / (dt * os.cpu_count())
        res.cleanup()
        bw1 = _mem_bandwidth_gbs()
        runs.append(round(dt, 2))
        steals.append(round(steal_frac, 3))
        bands.append((round(bw0, 2), round(bw1, 2)))
        if steal_frac <= 0.04 and min(bw0, bw1) >= 6.0:
            clean.append(round(dt, 2))
        if len(clean) >= 2 and sorted(clean)[1] / sorted(clean)[0] <= 1.3:
            headline_ok = True
            if attempts >= 2:
                break
    timings["pipeline_full"] = min(clean) if clean else min(runs)
    timings["pipeline_rerun"] = max(runs)
    headline = {
        "seq": runs, "steal": steals, "mem_gbs": bands,
        "clean": sorted(clean), "headline_ok": headline_ok,
    }
    return timings, n_labeled, n_valid, headline


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _steal_jiffies_cores(cores: int) -> int:
    """Steal jiffies summed over cpu0..cpu{cores-1} — the taskset-pinned set.

    Machine-wide steal dilutes a storm 32x: the round-2 driver draw recorded
    steal 0.0 while this session measured 13% steal ON THE PINNED CORE with
    machine-wide steal at 1.4% (< the 4% gate).  A local[1] rep only cares
    about cpu0; gate on exactly the cores the level runs on."""
    want = {f"cpu{i}" for i in range(cores)}
    total = 0
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0] in want:
                total += int(parts[8])
    return total


_BW_SRC = None
_BW_DST = None


def _mem_bandwidth_gbs() -> float:
    """Single-thread memcpy bandwidth probe (max of 3x256MB copies into a
    PERSISTENT pre-faulted destination — allocation-free, so the reading is
    pure bus bandwidth in every process).  Co-tenant interference on this
    shared host shows up as bandwidth loss even when CPU-steal accounting
    reads ~0 — the probe catches what /proc/stat cannot.

    Why copyto and not .copy(): glibc reads MALLOC_* env at process START,
    so the session's arena tuning only reaches child processes — a .copy()
    probe read 8-10 GB/s clean in the scale workers (arena-warm) but ~2.9
    GB/s clean in the bench parent (fresh mmap + kernel page-zeroing per
    copy), i.e. the same 6.0 floor classified every parent rep dirty.  The
    pre-faulted copyto reads ~8.6 GB/s clean in BOTH, keeping one
    calibration."""
    global _BW_SRC, _BW_DST
    import numpy as np

    if _BW_SRC is None:
        _BW_SRC = np.empty(256 * 1024 * 1024, dtype=np.uint8)
        _BW_SRC[::4096] = 1
        _BW_DST = np.empty_like(_BW_SRC)
        _BW_DST[::4096] = 1
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        np.copyto(_BW_DST, _BW_SRC)
        best = max(best, 0.25 / (time.time() - t0))
    return best


SPREAD_MAX = 1.25  # clean reps must agree within this ratio (spread gate)


def scale_worker(
    cores: int, path: str, warm_path: str, partitions: int, deadline: float,
    interactive: bool = False,
) -> None:
    """Child-process entry: pipeline timing at local[cores] on `path`.

    With `interactive=True` (paired mode) the worker does NOT self-drive the
    rep protocol: after the warmups it prints one `{"ready": ...}` JSON line
    and then runs exactly one timed rep per "rep" line on stdin, emitting one
    `{"dt": ..., "steal": ..., "bw": [...]}` JSON line per rep — the parent
    interleaves reps across the two levels so both sample the same noise
    windows (see _paired_scaling).

    Measurement protocol (each point below was measured to matter on this
    box — see BASELINE.md):
    - FRESH process per level (parent additionally pins it with `taskset`
      to exactly `cores` CPUs): a local[2] JVM otherwise spreads GC /
      shuffle / Python-worker threads over all 32 host cores, so the
      "small cluster" quietly borrows the big one's hardware.
    - fixed pre-committed heap (-Xms=-Xmx) + GC threads = cores: the
      default elastic 48g heap makes the kernel zero fresh pages mid-run
      (20%+ system time) — run-to-run spread was 3.6x, now ~1.3x.
    - shuffle partitions FIXED across levels (sized to the data, as on a
      real cluster): partition counts that follow the core count add
      per-partition fixed costs to the small level and mask true scaling.
    - one warmup pipeline run on a smaller input (JIT + python worker
      pool + code paths), then `reps` timed runs; min is reported
      (host CPU-steal windows only ever inflate).
    """
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    # shuffle codec override for A/B runs (the session default is zstd, see
    # session.py: measured 144.5 -> 116.5 s per local[4] rep vs lz4, tmpfs
    # shuffle high-water 4.9 -> 1.9 GB; fewer written bytes also means less
    # exposure to the hypervisor's erratic first-touch page-backing rate,
    # observed 0.14-10 GB/s on fresh tmpfs pages)
    codec = os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "")
    spark = get_spark(
        f"bench_scale_{cores}", cores=cores, shuffle_partitions=partitions,
        extra_conf={
            "spark.driver.memory": "8g",
            # AlwaysPreTouch: fault in the whole fixed heap at JVM start
            # (untimed) instead of paying hypervisor first-touch backing
            # latency inside timed reps
            "spark.driver.extraJavaOptions":
                f"-Xms8g -XX:+AlwaysPreTouch -XX:ParallelGCThreads={cores} "
                f"-XX:ConcGCThreads={max(1, cores // 4)}",
            **({"spark.io.compression.codec": codec} if codec else {}),
            # AQE off for the scaling measurement ONLY (ship config keeps it
            # on): at this input size its per-query-stage driver replanning
            # is ~17s of serial time that a real 100TB job amortizes over
            # hours — it inflated the small level 12% and the apparent
            # inefficiency; partitioning is already static and sized to the
            # data, so AQE has nothing left to adapt here.
            "spark.sql.adaptive.enabled": "false",
        },
    )
    warm = spark.read.parquet(warm_path)
    n_warm = warm.count()
    t0 = time.time()
    res = dedup_pipeline(warm, CFG, collect_metrics=False)
    res.labels.count()
    res.cleanup()
    warm_small_dt = time.time() - t0

    df = spark.read.parquet(path)
    n = df.count()
    # full-size warmup (untimed): the FIRST full-scale run in a fresh JVM
    # pays one-off costs the small-input warmup does not reach — heap
    # shaping at the real working-set size, JIT of large-loop paths, Arrow
    # buffer growth in the Python workers.  The round-1 driver record showed
    # exactly this signature: first rep 478s vs second 319s at local[2] with
    # ~0 recorded steal and a clean bandwidth probe, sinking the published
    # efficiency to 0.668.  Discarding rep one is the fix the probes cannot
    # provide.
    #
    # BUDGET GATE on the warmup itself (the round-3 timeout taught that the
    # deadline must bind BEFORE the expensive untimed work, not only between
    # reps): estimate a full-scale run from the small warmup scaled by rows
    # — fresh-JVM JIT makes the per-row estimate conservative (high) — and
    # skip the full warmup when warmup + one rep cannot fit.  The first
    # timed rep then absorbs the one-off costs (flagged via warm_skipped so
    # readers know rep one is warmup-polluted; the min-of-clean-reps
    # protocol already discards inflated draws).
    est_rep = warm_small_dt * (n / max(n_warm, 1))
    warm_full = None
    warm_skipped = time.time() + 2.2 * est_rep > deadline
    if not warm_skipped:
        t0 = time.time()
        res = dedup_pipeline(df, CFG, collect_metrics=False)
        res.labels.count()
        res.cleanup()
        warm_full = round(time.time() - t0, 1)

    if interactive:
        # paired mode: the PARENT drives the rep protocol (clean gating,
        # spread gate, budget) so it can interleave the two levels' reps —
        # this worker just times one pipeline run per "rep" command.
        print(json.dumps({
            "ready": True, "rows": n, "est_rep": round(est_rep, 1),
            "warm_full": warm_full, "warm_skipped": warm_skipped,
        }), flush=True)
        while True:
            line = sys.stdin.readline()
            if not line or line.strip() != "rep":
                break
            bw0 = _mem_bandwidth_gbs()
            s0, t0 = _steal_jiffies_cores(cores), time.time()
            res = dedup_pipeline(df, CFG, collect_metrics=False)
            res.labels.count()
            dt = time.time() - t0
            steal_frac = (_steal_jiffies_cores(cores) - s0) / 100.0 / (dt * cores)
            res.cleanup()
            bw1 = _mem_bandwidth_gbs()
            print(json.dumps({
                "dt": round(dt, 2), "steal": round(steal_frac, 3),
                "bw": [round(bw0, 2), round(bw1, 2)],
            }), flush=True)
        stop_spark(spark)
        return

    # steal-aware repetition: this sandbox is a VM on a shared host; CPU-
    # steal storms lasting minutes inflate whole reps (never deflate).  A
    # rep counts as CLEAN only if steal ON THE PINNED CORES stayed <= 4%
    # (machine-wide steal dilutes a one-core storm 32x — see
    # _steal_jiffies_cores) AND the
    # single-thread memcpy probe read >= 6.0 GB/s BOTH immediately before
    # and immediately after it (co-tenant bandwidth contention is invisible
    # to steal accounting; probing both ends catches storms that start
    # mid-rep).  Probe calibration: with the worker-env malloc tuning the
    # probe buffer is arena-warm (no per-copy mmap/fault), so a clean host
    # reads 8-10 GB/s — the old 2.5 floor belonged to the cold-buffer probe
    # (2.8-3.3 GB/s clean) and would now admit severe storms.  Each level
    # keeps drawing until it
    # has `reps` clean reps (bounded), and the reported number is the min
    # over the `reps` FASTEST clean draws — the SAME count at every level.
    # Draw-count symmetry matters: min-of-6 at one level vs min-of-2 at the
    # other systematically biases the ratio (the round-1 artifact did
    # exactly that).
    #
    # REP-SPREAD GATE (round-2 driver record showed why probes alone are
    # not enough): reps_local4 = [199.3, 267.6] — a 1.34x spread with steal
    # 0.0 and all four probes 2.83-2.97 GB/s, i.e. a contention storm that
    # started AND ended strictly inside the rep, invisible to both probes.
    # Mutually consistent clean reps are the only observable signal for
    # mid-rep storms: after `reps` clean draws, if max/min over the `reps`
    # fastest exceeds SPREAD_MAX the slow ones were storm-inflated — keep
    # drawing (bounded) until the `reps` fastest clean draws agree within
    # SPREAD_MAX.  HZ=100 (USER_HZ) jiffies, 32 host CPUs.
    # WALL BUDGET (round-3 driver record was rc=124/parsed-null): `deadline`
    # is a unix timestamp; before each attempt beyond the first timed rep,
    # stop if the estimated rep cost (last observed duration, warm_full as
    # the prior) would not fit.  The check gates STARTING a rep — a running
    # rep is never interrupted — so overshoot is bounded by one rep.  The
    # first timed rep always runs (a level with zero reps is worthless).
    # budget_exhausted means exactly "stopped DRAWING REPS because the share
    # ran out" — a skipped warmup is its own flag (warm_skipped); conflating
    # them stamped the round-4 rehearsal's spread-clean 3-rep level as
    # exhausted when no rep was ever cut short
    times, steals, bands, seq = [], [], [], []
    attempts, max_attempts = 0, reps + 4
    spread_ok = False
    budget_exhausted = False
    last_dt = warm_full if warm_full is not None else est_rep
    while attempts < max_attempts:
        if attempts >= 1 and time.time() + last_dt > deadline:
            budget_exhausted = True
            break
        attempts += 1
        bw0 = _mem_bandwidth_gbs()
        s0, t0 = _steal_jiffies_cores(cores), time.time()
        res = dedup_pipeline(df, CFG, collect_metrics=False)
        res.labels.count()
        dt = time.time() - t0
        last_dt = dt
        seq.append(round(dt, 1))
        # per-PINNED-core steal fraction (see _steal_jiffies_cores)
        steal_frac = (_steal_jiffies_cores(cores) - s0) / 100.0 / (dt * cores)
        res.cleanup()
        bw1 = _mem_bandwidth_gbs()
        steals.append(round(steal_frac, 3))
        bands.append((round(bw0, 2), round(bw1, 2)))
        if steal_frac <= 0.04 and min(bw0, bw1) >= 6.0:
            times.append(dt)
        if len(times) >= reps:
            best = sorted(times)[:reps]
            if best[-1] / best[0] <= SPREAD_MAX:
                spread_ok = True
                break
    if times:
        best = sorted(times)[:reps]
    else:  # every attempt ran dirty: report all draws anyway, flagged
        best = [last_dt]
    stop_spark(spark)
    print(json.dumps({
        "seconds": min(best), "all": [round(t, 1) for t in sorted(times) or [last_dt]],
        # `seq` is every attempt's duration in DRAW ORDER (dirty ones
        # included — cross-reference steal_frac/mem_gbs, same order): the
        # sorted views above destroy the warm-up-decay / drift signal that
        # tells a reader WHY a draw was slow
        "seq": seq,
        "used": [round(t, 1) for t in best], "spread_ok": spread_ok,
        "budget_exhausted": budget_exhausted,
        "warm_full": warm_full, "warm_skipped": warm_skipped,
        "steal_frac": steals, "mem_gbs": bands, "rows": n,
    }))


def _stdout_queue(proc):
    """Background thread draining proc.stdout into a queue.  select()-based
    polling is WRONG here: readline() buffers ahead, so a line can sit in
    the userspace buffer while the fd reads as not-ready — a false worker
    death.  A dedicated reader thread has no such window; EOF posts None."""
    import queue
    import threading

    q: "queue.Queue[str | None]" = queue.Queue()

    def drain() -> None:
        for line in proc.stdout:
            q.put(line)
        q.put(None)

    threading.Thread(target=drain, daemon=True).start()
    return q


def _readline_json(q, timeout: float) -> dict | None:
    """Next JSON line from a worker's stdout queue, skipping non-JSON noise,
    with a hard timeout (a hung worker must not push the parent past the
    driver's wall limit — the round-3 rc=124 failure mode)."""
    import queue

    end = time.time() + timeout
    while True:
        remaining = end - time.time()
        if remaining <= 0:
            return None
        try:
            line = q.get(timeout=min(remaining, 30.0))
        except queue.Empty:
            continue
        if line is None:
            return None  # EOF: worker exited
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue


def _paired_scaling(
    pair: tuple[int, int], shm_path: str, warm_path: str, partitions: int,
    deadline: float, scale_rows: int,
) -> dict:
    """Two-level scaling measured with INTERLEAVED reps (paired mode).

    The sequential protocol (one level fully drawn, then the other) is
    exposed to host-load DRIFT between the two levels' measurement windows:
    a 2026-08-19 morning draw measured 0.789 with every probe green while
    local[1] reps ramped 271->410 s, and the first paired draw that
    afternoon read per-round efficiencies 1.01/0.65/0.65 — minute-scale
    co-tenant storms that steal accounting and the memcpy probe both miss.
    Here both levels run as persistent workers pinned to DISJOINT core sets
    (local[1] -> cpu0, local[4] -> cpu1-4), warm up concurrently (untimed),
    and then alternate timed reps one at a time, so rep i of each level
    samples the same noise window and slow drift cancels out of the ratio.
    While one level runs its rep the other is idle (parked on a stdin read),
    so the pinned-core isolation of the sequential protocol is preserved.
    Per-level clean gating (pinned-core steal <= 4%, memcpy probe >= 6 GB/s
    both ends), the spread gate, min-of-`reps`-fastest-clean, and draw-count
    symmetry are identical to the sequential path; `paired_rounds` addition-
    ally reports the per-round efficiency so drift is visible to readers.
    """
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    lo, hi = pair
    taskset = shutil.which("taskset")
    pins = {lo: f"0-{lo - 1}" if lo > 1 else "0", hi: f"{lo}-{lo + hi - 1}"}
    os.makedirs(CACHE, exist_ok=True)

    def spawn(cores: int):
        cmd = [sys.executable, os.path.abspath(__file__), "--scale-worker",
               str(cores), shm_path, warm_path, str(partitions),
               f"{deadline:.1f}", "--interactive"]
        if taskset:
            cmd = [taskset, "-c", pins[cores]] + cmd
        # stderr to a file, NOT a pipe: Spark logs enough to fill a pipe
        # buffer and deadlock a parent that only reads stdout
        err = open(os.path.join(CACHE, f"scale_worker_{cores}.err"), "w")
        return subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
            text=True, bufsize=1,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ), err

    procs, errs, queues, ready = {}, {}, {}, {}
    for cores in (lo, hi):
        procs[cores], errs[cores] = spawn(cores)
        queues[cores] = _stdout_queue(procs[cores])
    # both workers warm concurrently (their cores are disjoint; warmups are
    # untimed).  Ready arrives before the deadline by construction — the
    # worker's own budget gate skips the full warm when it cannot fit — so
    # the wait is bounded by the deadline plus teardown margin.
    for cores in (lo, hi):
        ready[cores] = _readline_json(
            queues[cores], timeout=max(120.0, deadline - time.time() + 300.0)
        )

    def shutdown() -> None:
        for cores, proc in procs.items():
            try:
                if proc.poll() is None:
                    proc.stdin.close()
                    proc.wait(timeout=120)
            except Exception:
                proc.kill()
            errs[cores].close()

    # one respawn per level that failed to become ready (the observed crash
    # mode is transient JVM startup failure — port bind, host storm)
    for cores in (lo, hi):
        if ready.get(cores) or deadline - time.time() < 300:
            continue
        try:
            procs[cores].kill()
        except Exception:
            pass
        errs[cores].close()
        procs[cores], errs[cores] = spawn(cores)
        queues[cores] = _stdout_queue(procs[cores])
        ready[cores] = _readline_json(
            queues[cores], timeout=max(120.0, deadline - time.time() + 300.0)
        )

    failed = {c for c in (lo, hi) if not ready.get(c)}
    if failed:
        shutdown()
        return {
            "mode": "paired",
            "skipped": "scale worker failed to become ready at "
                       + ", ".join(f"local[{c}]" for c in sorted(failed)),
            "budget_exhausted": True,
        }

    stats = {c: {"clean": [], "seq": [], "steal": [], "bw": []} for c in (lo, hi)}
    paired: list[dict] = []
    budget_exhausted = False
    dead: set[int] = set()

    def level_done(c: int) -> bool:
        s = stats[c]["clean"]
        if len(s) < reps:
            return False
        best = sorted(s)[:reps]
        return best[-1] / best[0] <= SPREAD_MAX

    def last_or_est(c: int) -> float:
        if stats[c]["seq"]:
            return stats[c]["seq"][-1]
        return ready[c].get("warm_full") or ready[c]["est_rep"]

    max_rounds = reps + 4
    for rnd in range(max_rounds):
        if all(level_done(c) or c in dead for c in (lo, hi)):
            break
        est_round = sum(last_or_est(c) for c in (lo, hi) if not level_done(c))
        if rnd >= 1 and time.time() + est_round > deadline:
            budget_exhausted = True
            break
        round_dts: dict[int, float | None] = {}
        for cores in (lo, hi):  # lo first within each round, every round
            if level_done(cores) or cores in dead:
                continue
            try:
                procs[cores].stdin.write("rep\n")
                procs[cores].stdin.flush()
            except (BrokenPipeError, OSError):
                dead.add(cores)
                continue
            # generous per-rep bound (a storm can double a rep), but never
            # so long that a hung worker pushes the parent past the wall
            # budget by more than ~one rep + teardown
            rep_timeout = min(
                max(4 * last_or_est(cores), 900.0),
                max(120.0, deadline - time.time() + last_or_est(cores) + 120.0),
            )
            rec = _readline_json(queues[cores], timeout=rep_timeout)
            if rec is None or "dt" not in rec:
                dead.add(cores)
                continue
            s = stats[cores]
            s["seq"].append(rec["dt"])
            s["steal"].append(rec["steal"])
            s["bw"].append(rec["bw"])
            clean = rec["steal"] <= 0.04 and min(rec["bw"]) >= 6.0
            if clean:
                s["clean"].append(rec["dt"])
                round_dts[cores] = rec["dt"]
        if round_dts.get(lo) and round_dts.get(hi):
            paired.append({
                "round": rnd + 1,
                f"t{lo}": round_dts[lo], f"t{hi}": round_dts[hi],
                "efficiency": round(
                    round_dts[lo] / ((hi / lo) * round_dts[hi]), 3
                ),
            })
    shutdown()

    for c in (lo, hi):
        if c in dead and not stats[c]["clean"]:
            return {
                "mode": "paired",
                "skipped": f"scale worker died at local[{c}] with no clean reps",
                "budget_exhausted": True,
                **{f"reps_local{cc}": stats[cc] for cc in (lo, hi)},
            }
    all_dirty: set[int] = set()
    for c in (lo, hi):
        if not stats[c]["clean"]:
            # every draw at this level ran dirty — report the last raw draw,
            # flagged as all_reps_dirty (host noise), which is distinct from
            # budget_exhausted (wall budget bound) — the same separation the
            # sequential path keeps between warm_skipped and exhaustion
            stats[c]["clean"] = stats[c]["seq"][-1:]
            all_dirty.add(c)

    thr, reps_all = {}, {}
    for c in (lo, hi):
        s = stats[c]
        best = sorted(s["clean"])[:reps]
        thr[c] = scale_rows / min(best)
        reps_all[c] = {
            "seconds": [round(t, 1) for t in sorted(s["clean"])],
            "seq": [round(t, 1) for t in s["seq"]],
            "used": [round(t, 1) for t in best],
            "spread_ok": len(s["clean"]) >= reps
            and best[-1] / best[0] <= SPREAD_MAX,
            "budget_exhausted": budget_exhausted or c in dead,
            "all_reps_dirty": c in all_dirty,
            "warm_full": ready[c].get("warm_full"),
            "warm_skipped": ready[c].get("warm_skipped"),
            "mem_gbs": s["bw"], "steal": s["steal"],
        }
    eff = (thr[hi] / thr[lo]) / (hi / lo)
    scaling = {
        "mode": "paired",
        "rows": scale_rows,
        "cores": list(pair),
        f"thr_local{lo}": round(thr[lo], 1),
        f"thr_local{hi}": round(thr[hi], 1),
        f"reps_local{lo}": reps_all[lo],
        f"reps_local{hi}": reps_all[hi],
        "paired_rounds": paired,
        "spread_ok": bool(
            reps_all[lo]["spread_ok"] and reps_all[hi]["spread_ok"]
        ),
        "budget_exhausted": budget_exhausted or bool(dead),
        "all_reps_dirty": bool(all_dirty),
        "efficiency": round(min(eff, 1.0), 3),
    }
    if eff > 1.05:
        scaling["noise_note"] = (
            f"raw ratio {round(eff, 3)} > 1: local[{lo}] draw inflated by "
            "host noise; see BASELINE.md protocol"
        )
    return scaling


def main() -> None:
    t_start = time.time()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2700"))
    deadline = t_start + budget
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    do_scaling = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
    sf = sf_from_dir(sf_dir)
    n_rows = max(int(1_000_000 * sf), 1000)

    # materialize input once (not timed)
    spark = get_spark("bench_datagen", cores=cpus)
    path = input_path(spark, n_rows)
    total_rows = spark.read.parquet(path).count()
    stop_spark(spark)
    # stage the MEASURED input on tmpfs, exactly like the scaling levels: the
    # gate validates `required: bytes`, so every timed query scans the full
    # binary payload column — against the sandbox's erratic disk a cold
    # page cache turned a 0.9 s native gate into 59 s (measuring the disk,
    # not the engine).  On a real cluster this is the executor-local
    # NVMe/HDFS read path; tmpfs is the single-box stand-in.
    os.makedirs("/dev/shm/benchdata", exist_ok=True)
    shm_main = f"/dev/shm/benchdata/{os.path.basename(path)}"
    if not os.path.exists(shm_main):
        shutil.copytree(path, shm_main)
    path = shm_main
    # fresh JVM per phase: one process shares ONE gateway JVM sized by the
    # FIRST session, so bench_main's 16g pre-committed heap below silently
    # would not apply — and the datagen JVM's stopped-but-resident heap
    # (26 GB RSS observed) pressures later phases (see shutdown_jvm)
    shutdown_jvm()

    results: dict = {}
    # shuffle partitions = cores (not 2x): measured 11.4s vs 26.5s min at
    # 32 cores / 108k rows — this workload's stages are latency-bound at
    # small partition sizes, and one wave beats two.
    spark = get_spark(
        "bench_main", cores=cpus, shuffle_partitions=cpus,
        extra_conf={
            # fixed pre-committed heap: the elastic default makes the kernel
            # zero pages mid-run (system-time storms, 3.6x timing spread)
            "spark.driver.memory": "16g",
            "spark.driver.extraJavaOptions": "-Xms16g",
        },
    )
    # reserve the scaling phase's expected wall share out of the headline
    # redraw budget (the first two headline reps always run regardless):
    # the full two-level protocol needs ~1,600-1,900 s of the 2,700 s
    # default budget (BASELINE.md round-4 rehearsals), so extra headline
    # redraws may only spend what the scaling phase can spare
    reserve = float(os.environ.get("SPARK_GRAFT_SCALE_RESERVE", "1900"))
    deadline_main = deadline - reserve if do_scaling else deadline
    timings, n_labeled, n_valid, headline = run_pipeline(spark, path, deadline_main)
    stop_spark(spark)
    shutdown_jvm()
    wall = timings["pipeline_full"]
    thr_main = total_rows / wall

    out = {
        "metric": "images_per_sec",
        "value": round(thr_main, 1),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rows": total_rows,
        "valid_rows": n_valid,
        "labeled_rows": n_labeled,
        "cpus": cpus,
        # raw headline reps in draw order + probe readings, so a reader can
        # judge the headline's draw quality exactly like the scaling reps'
        "headline_reps": headline,
    }
    # EARLY FLUSH (round-3 driver record was rc=124 with parsed:null): emit
    # the headline JSON line NOW, before the scaling phase, so a hard kill
    # mid-scaling still leaves the driver a parseable throughput record.
    # The final line (same record + `scaling`, no `partial` flag)
    # supersedes it on success — consumers should read the LAST line.
    print(json.dumps({**out, "partial": True}), flush=True)

    scaling = None
    if do_scaling:
        # Two-cluster-size evidence (N and 4N executors, BASELINE.md): the
        # same job on the SAME input at two parallelism levels.  The pair
        # defaults to local[1] -> local[4]: this box has 32 hardware threads
        # sharing ONE memory bus between JVM task threads, Python workers,
        # GC and co-tenants; per-phase profiling (all stages ~100% CPU yet
        # ~0.65 pairwise efficiency at 2->8) shows the big level pays
        # bus-contention stalls the small level does not — an artifact of
        # single-box co-location that says nothing about multi-node scaling
        # where each executor brings its own memory bus.  1 -> 4 keeps the
        # big level furthest below saturation while still spanning the
        # north rule's required 4x.  The scaling input is 6x the bench size
        # (see n_scale below) so compute dominates fixed per-stage
        # scheduling latency, and it is staged on tmpfs so cold page-cache
        # reads don't bias the first run.
        pair = tuple(
            int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_CORES", "1,4").split(",")
        )
        # a scaling record drawn with less than ~10 min of wall left would
        # be one storm-polluted rep per level at best — if the main phase
        # (pathologically) ate the budget, skip the phase and say so rather
        # than overshoot into the driver's hard timeout (round-3 rc=124)
        scale_min = float(os.environ.get("SPARK_GRAFT_SCALE_MIN", "600"))
        if deadline - time.time() < scale_min:
            scaling = {
                "skipped": "wall budget exhausted before the scaling phase",
                "budget_exhausted": True,
            }
            out["scaling"] = scaling
            out["wall_total"] = round(time.time() - t_start, 1)
            print(json.dumps(out), flush=True)
            return
        # 12x the bench input (round 5; was 6x in round 4, 8x in round 3):
        # the sizing rule is REP DURATION, not a magic multiplier — fixed
        # driver-side serial work (CC convergence round-trips, action
        # barriers, ~10s total) must stay small against the fast level's
        # rep or it reads as false inefficiency.  The round-5 operator
        # rework (one-exchange phash/ngram pairs, fixed-width containment
        # candidates) cut the 648k-row rep to 52s at local[4], where that
        # serial slice alone costs ~0.15 of the ratio: measured SAME-DAY
        # 0.805 at 6x vs 0.940 at 12x, identical protocol, both
        # spread_ok, 12x wall 2088s of the 2700s budget (local[1]
        # 371/372/379s + local[4] 99/102/102s incl. full-size warmups).
        # At 8x-of-SLOWER-code round 3 timed out (rc=124); 12x of the
        # round-5 engine sits where 6x of the round-4 engine did.
        n_scale = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", str(12 * n_rows)))
        s = get_spark("bench_scale_gen", cores=cpus)
        scale_path = input_path(s, n_scale)
        scale_rows = s.read.parquet(scale_path).count()
        warm_src = input_path(s, n_rows)
        stop_spark(s)
        # the scale WORKERS are fresh subprocesses — make sure this parent's
        # JVM is not squatting on tens of GB while they are being timed
        shutdown_jvm()
        os.makedirs("/dev/shm/benchdata", exist_ok=True)
        shm_path = f"/dev/shm/benchdata/{os.path.basename(scale_path)}"
        if not os.path.exists(shm_path):
            shutil.copytree(scale_path, shm_path)
        warm_path = f"/dev/shm/benchdata/{os.path.basename(warm_src)}"
        if not os.path.exists(warm_path):
            shutil.copytree(warm_src, warm_path)
        # partitions sized to the DATA (identical at both levels, and the
        # same 48 the sf0.1-scale pipeline uses everywhere): many waves
        # smooth stragglers; 2-wave runs showed 14-20% straggler-driven
        # spread.
        partitions = 48

        # SPARK_GRAFT_SCALE_MODE=paired interleaves the two levels' reps
        # (both workers resident on disjoint pinned core sets, alternating
        # timed reps) so host-load drift between measurement windows shows
        # up in per-round ratios instead of silently biasing the comparison
        # (see _paired_scaling).  Default stays `seq` — the protocol of
        # record for BENCH_r01-r03 comparability; paired is the diagnostic
        # mode (its per-round efficiencies expose storms the probes miss:
        # the 2026-08-19 afternoon draw read 1.01/0.65/0.65 across three
        # rounds on a probe-green box).
        if os.environ.get("SPARK_GRAFT_SCALE_MODE", "seq") == "paired":
            scaling = _paired_scaling(
                pair, shm_path, warm_path, partitions, deadline, scale_rows
            )
            out["scaling"] = scaling
            out["wall_total"] = round(time.time() - t_start, 1)
            print(json.dumps(out), flush=True)
            return

        taskset = shutil.which("taskset")
        thr = {}
        reps_all = {}
        # split the REMAINING wall budget between the levels in proportion
        # to expected per-level cost: reps scale ~1/cores but each level
        # also pays fixed costs (JVM start, python worker pool, the small
        # warmup) that do NOT scale with cores — without the fixed term the
        # fast level's share starves (measured: local[4] needs ~25% of the
        # local[1] wall, not the 20% a pure 1/cores weight gives).  Each
        # worker enforces its own share via `deadline`.  Workers run
        # slow-level-first so an overshoot squeezes the cheap level, not
        # the expensive one.
        lo, hi = pair
        # the scale_min gate above guarantees a sane floor here; no
        # artificial minimum that would force workers past the deadline
        remaining = max(deadline - time.time(), 60.0)
        w = {lo: 1.0 / lo + 0.12, hi: 1.0 / hi + 0.12}
        w_sum = sum(w.values())
        order = [lo, hi]  # lo (expensive) first
        level_deadline = {}
        t_cursor = time.time()
        for cores in order:
            share = remaining * w[cores] / w_sum
            level_deadline[cores] = t_cursor + share
            t_cursor += share
        failed: dict[int, str] = {}
        for cores in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--scale-worker",
                   str(cores), shm_path, warm_path, str(partitions),
                   f"{level_deadline[cores]:.1f}"]
            if taskset:
                cmd = [taskset, "-c", f"0-{cores - 1}"] + cmd
            # a worker crash (JVM OOM/port bind, transient host storm) must
            # not kill the whole bench and erase the headline record the way
            # a 2026-08-19 rehearsal did (local[4] exited 1 -> parent
            # CalledProcessError -> rc=1, scaling lost, worker stderr lost):
            # retry once, and on a second failure record the level as failed
            # (stderr tail preserved) so the final JSON still prints.
            rec = None
            for attempt in range(2):
                proc = subprocess.run(
                    cmd, capture_output=True, text=True,
                    cwd=os.path.dirname(os.path.abspath(__file__)),
                )
                if proc.returncode == 0 and proc.stdout.strip():
                    # the record is the LAST JSON-parseable stdout line;
                    # JVM shutdown chatter can print after it, and an
                    # unguarded json.loads here would re-create the exact
                    # lost-record failure this retry block exists to prevent
                    for line in reversed(proc.stdout.strip().splitlines()):
                        line = line.strip()
                        if not line.startswith("{"):
                            continue
                        try:
                            cand = json.loads(line)
                        except json.JSONDecodeError:
                            continue
                        # must be the worker RECORD, not JSON-shaped chatter
                        # (structured-log lines after the record would
                        # otherwise KeyError downstream on rec["seconds"])
                        if isinstance(cand, dict) and "seconds" in cand:
                            rec = cand
                            break
                    if rec is not None:
                        break
                reason = (
                    f"rc={proc.returncode}" if proc.returncode
                    else "no JSON record on stdout"
                )
                tail = "\n".join(proc.stderr.strip().splitlines()[-15:])
                print(
                    f"scale worker local[{cores}] attempt {attempt + 1} "
                    f"failed {reason}:\n{tail}",
                    file=sys.stderr, flush=True,
                )
                failed[cores] = f"{reason}: {tail[-500:]}"
                if time.time() > level_deadline[cores]:
                    break
            if rec is None:
                continue
            failed.pop(cores, None)
            thr[cores] = scale_rows / rec["seconds"]
            reps_all[cores] = {"seconds": rec.get("all", []),
                               "used": rec.get("used", []),
                               "spread_ok": rec.get("spread_ok"),
                               "budget_exhausted": rec.get("budget_exhausted"),
                               "warm_full": rec.get("warm_full"),
                               "warm_skipped": rec.get("warm_skipped"),
                               "mem_gbs": rec.get("mem_gbs", []),
                               "steal": rec.get("steal_frac", [])}
        if lo not in thr or hi not in thr:
            scaling = {
                "skipped": "scale worker failed at "
                           + ", ".join(f"local[{c}]" for c in sorted(failed)),
                "worker_errors": {f"local[{c}]": m for c, m in failed.items()},
                "budget_exhausted": True,
            }
            out["scaling"] = scaling
            out["wall_total"] = round(time.time() - t_start, 1)
            print(json.dumps(out), flush=True)
            return
        eff = (thr[hi] / thr[lo]) / (hi / lo)
        scaling = {
            "rows": scale_rows,
            "cores": list(pair),
            f"thr_local{lo}": round(thr[lo], 1),
            f"thr_local{hi}": round(thr[hi], 1),
            f"reps_local{lo}": reps_all.get(lo, []),
            f"reps_local{hi}": reps_all.get(hi, []),
            "spread_ok": bool(
                reps_all.get(lo, {}).get("spread_ok")
                and reps_all.get(hi, {}).get("spread_ok")
            ),
            "budget_exhausted": bool(
                reps_all.get(lo, {}).get("budget_exhausted")
                or reps_all.get(hi, {}).get("budget_exhausted")
            ),
            # efficiency > 1 is physically impossible for this workload —
            # it means the small level's draw was inflated by host noise
            # (co-tenant interference); cap and flag rather than report a
            # super-linear fiction
            "efficiency": round(min(eff, 1.0), 3),
        }
        if eff > 1.05:
            scaling["noise_note"] = (
                f"raw ratio {round(eff, 3)} > 1: local[{lo}] draw inflated by host "
                "noise; see BASELINE.md protocol"
            )

    if scaling:
        out["scaling"] = scaling
    out["wall_total"] = round(time.time() - t_start, 1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        scale_worker(int(sys.argv[2]), sys.argv[3], sys.argv[4],
                     int(sys.argv[5]), float(sys.argv[6]),
                     interactive="--interactive" in sys.argv[7:])
    else:
        main()
