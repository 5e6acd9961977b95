"""Seeded benchmark inputs, cached by (seed, size, generator version).

Images come from the ``jsonschema_jl_spark.datagen.images`` row builders over
a seed-selected id window whose start is a multiple of 20, so the planted
20-id block structure (pairs at block positions 12/13, 14/15, 16/17, 18/19)
and its ground truth hold inside the window.  Every row carries the PNG
encoding of its pixels; the ``fmt`` column keeps the builder's lane label
(the pipeline never decodes the bytes, and the pure-numpy JPEG/WebP encoders
cost ~23x a PNG per row).  About 8% malformed rows follow the window, each
breaking exactly one gate keyword, as ``generate_images`` does.

JSON docs are the contract's three dynamic-gate docs built from a seeded
events stream, plus an intake copy of the flat doc with defective rows (see
``_docs``).  Their verdicts come from DuckDB ``json_*`` functions over the
same parquet, computed once per cached input and never inside the timing.

Generation runs in a few worker processes (this file run as a script, one
parquet part each) before Spark starts, so it neither warms the JVM nor
counts towards set-up time.  Every worker is waited for before
``image_input`` returns, on every path out of it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes of any input change.
GEN_VERSION = 5

N_FILES = 4          # parquet files per input (Spark packs them into ~nproc splits)
BIG_INT = 1 << 53    # integers above this lose precision as IEEE doubles
SUMSQ_MOD = 1_000_003

_IMAGE_SCHEMA = pa.schema([
    pa.field("image_id", pa.string(), nullable=False),
    pa.field("bytes", pa.binary(), nullable=False),
    pa.field("w", pa.int32(), nullable=False),
    pa.field("h", pa.int32(), nullable=False),
    pa.field("fmt", pa.string(), nullable=False),
    pa.field("caption", pa.string()),
    pa.field("phash", pa.int64(), nullable=False),
])


def _mix(seed: int, salt: int) -> int:
    """splitmix64 of (seed, salt): decorrelates nearby seeds."""
    z = (seed * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9 + 1) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def window_start(seed: int) -> int:
    """First image id of the seed's window: a multiple of 20 below 10^10."""
    return 20 * (_mix(seed, 1) % 50_000_000)


def _source_digest(*modules) -> str:
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def _cache_dir(cache_root: str, kind: str, seed: int, n: int, digest: str) -> str:
    return os.path.join(cache_root, f"{kind}_s{seed}_n{n}_g{GEN_VERSION}_{digest}")


def _publish(tmp: str, final: str) -> None:
    """Atomically move a finished input directory into the cache."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


# -- images -----------------------------------------------------------------

def _image_rows(ids: range, n_end: int) -> dict:
    """Rows for image ids; ids >= n_end are malformed rows built the way
    ``generate_images`` builds them (one broken keyword each)."""
    from jsonschema_jl_spark.config import DEFAULT_CONFIG
    from jsonschema_jl_spark.datagen import images as dg
    from jsonschema_jl_spark.operators.multimodal import png_encode

    rows = []
    for i in ids:
        if i < n_end:
            r = dg._row_for(i, DEFAULT_CONFIG, False)
        else:
            r = dg._malformed_row(i - n_end, n_end, DEFAULT_CONFIG, False)
        w, h = dg._dims_for(i)
        r["bytes"] = png_encode(dg._pixels_for(i, w, h))
        rows.append(r)
    return {f.name: [r[f.name] for r in rows] for f in _IMAGE_SCHEMA}


def _write_image_part(start: int, total: int, n_end: int, k: int, out: str) -> None:
    """Part k of the window: every N_FILES-th id from start + k."""
    cols = _image_rows(range(start + k, start + total, N_FILES), n_end)
    pq.write_table(pa.table(cols, schema=_IMAGE_SCHEMA), out)


def image_input(cache_root: str, seed: int, n: int, workers: int) -> dict:
    """Parquet of n valid images (+8% malformed) for the seed's window."""
    from jsonschema_jl_spark.datagen import images as dg
    from jsonschema_jl_spark.operators import multimodal

    start = window_start(seed)
    n_mal = int(0.08 * n)
    path = _cache_dir(cache_root, "images", seed, n, _source_digest(dg, multimodal))
    meta = {"start": start, "n_valid": n, "n_malformed": n_mal, "path": path,
            "gen_s": 0.0, "cached": True}
    if os.path.isdir(path):
        return meta
    t0 = time.perf_counter()
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    todo = [[sys.executable, os.path.abspath(__file__), str(start), str(n + n_mal),
             str(start + n), str(k), os.path.join(tmp, f"part-{k}.parquet")]
            for k in range(N_FILES)]
    running: list[subprocess.Popen] = []
    try:
        while todo or running:
            while todo and len(running) < max(1, min(workers, N_FILES)):
                running.append(subprocess.Popen(todo.pop(0)))
            if running[0].wait() != 0:
                raise RuntimeError(f"image generation worker exited with {running[0].returncode}")
            running.pop(0)
    finally:
        for p in running:
            p.kill()
            p.wait()
    _publish(tmp, path)
    meta.update(gen_s=time.perf_counter() - t0, cached=False)
    return meta


def planted_pairs(start: int, n: int) -> list[tuple[str, str]]:
    """The window's planted duplicate pairs as image_id tuples."""
    out = []
    for b in range(start, start + n, 20):
        for p in (12, 14, 16, 18):
            out.append((f"img{b + p:012d}", f"img{b + p + 1:012d}"))
    return out


# -- JSON docs ----------------------------------------------------------------
#
# The clean docs are the repo's own dynamic-gate traffic, rebuilt from a
# seeded events stream with the shape of the test events table (event_id
# 0..n-1, user_id over 1,500 users, five event types, props {"k": 0..99}):
#   props    -- the events table's `props` text, which the contract gates with
#               _EVENTS_DYN_SCHEMA (q_gate_events_dynamic and _native);
#   combo    -- q_gate_screened_combo's doc: {"k": k} on even event ids,
#               {"k": k, "tag": <event_type>} on odd ones (_COMBO_SCHEMA);
#   compound -- q_gate_events_compound's to_json doc (_EVENTS_COMPOUND_SCHEMA).
# The `intake` column is `props` with DEFECT_SHARE of its rows defective,
# at seeded positions: half malformed JSON text, half integers above 2^53.
# The share is the malformed-row share of datagen.images.generate_images.

EVENT_TYPES = np.array(["signup", "click", "error", "purchase", "view"])
N_USERS = 1500
DEFECT_SHARE = 0.08
_MALFORMED = ('{{"k": {k}', '{{"k": }}', '{{k: {k}}}', '{{"k": {k},}}', 'not json')


def _docs(seed: int, n: int) -> dict[str, list]:
    """Seeded doc columns: doc_id, props, combo, compound, intake."""
    rng = np.random.default_rng(_mix(seed, 2))
    k = rng.integers(0, 100, size=n).tolist()
    user = rng.integers(0, N_USERS, size=n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)].tolist()
    defect = rng.random(size=n) < DEFECT_SHARE
    big = (BIG_INT + rng.integers(1, 1000, size=n)).tolist()
    variant = rng.integers(0, 2 * len(_MALFORMED), size=n).tolist()
    props = [f'{{"k": {v}}}' for v in k]
    combo = [p if i % 2 == 0 else f'{{"k": {k[i]}, "tag": "{etype[i]}"}}' for i, p in enumerate(props)]
    tag2 = np.where(user % 4 == 0, "ab", np.char.add("tag", (user % 5).astype(str))).tolist()
    w = (user % 120).tolist()
    has_meta = (user % 11 != 0).tolist()
    # Spark's to_json: no spaces, a null field is left out
    compound = [
        f'{{"tags":["{etype[i]}","{tag2[i]}"]' + (f',"meta":{{"w":{w[i]}}}}}' if has_meta[i] else "}")
        for i in range(n)
    ]
    intake = list(props)
    for i in np.flatnonzero(defect).tolist():
        v = variant[i]
        intake[i] = _MALFORMED[v].format(k=k[i]) if v < len(_MALFORMED) else f'{{"k": {big[i]}}}'
    return {"doc_id": np.arange(n, dtype=np.int64), "props": props, "combo": combo,
            "compound": compound, "intake": intake}


# DuckDB mirrors of the three contract schemas over a column named `doc`
# (json_type is NULL for an absent path, so "absent" and "wrong type" both
# fail the typed tests).  DuckDB's AND does not short-circuit, so malformed
# docs are screened out by the CASE in kept_digest_sql before any json_*
# function parses them.  DuckDB's json_valid accepts a trailing comma, which
# RFC 8259 does not, so the CASE also rejects a comma before a closing
# bracket (no generated string value holds one).
_IS_OBJ = "json_type(doc) = 'OBJECT'"
_K_INT = "json_type(doc, '$.k') IN ('BIGINT', 'UBIGINT')"
_K = "CAST(json_extract(doc, '$.k') AS BIGINT)"
# multipleOf follows the reference's isapprox(k/2, round(k/2)) with
# rel_tol = sqrt(eps), so odd integers above 2^53 count as even
_HALF = f"(CAST({_K} AS DOUBLE) / 2.0::DOUBLE)"
_EVEN = f"abs({_HALF} - round({_HALF})) <= 1.4901161193847656e-08 * greatest(abs({_HALF}), abs(round({_HALF})))"
ORACLE_WHERE = {
    "events_dyn": f"{_IS_OBJ} AND {_K_INT} AND {_K} BETWEEN 10 AND 90",
    "combo": f"""{_IS_OBJ} AND {_K_INT}
        AND {_EVEN} AND (({_K} <= 60) != ({_K} >= 30)) AND {_K} != 44
        AND (json_type(doc, '$.tag') IS NULL
             OR (json_type(doc, '$.tag') = 'VARCHAR'
                 AND length(json_extract_string(doc, '$.tag')) >= 5))
        AND (json_type(doc, '$.tag') IS NOT NULL OR {_K} >= 10)""",
    "compound": f"""{_IS_OBJ} AND json_type(doc, '$.tags') = 'ARRAY'
        AND json_array_length(doc, '$.tags') BETWEEN 1 AND 3
        AND list_bool_and(list_transform(json_type(doc, '$.tags[*]'), t -> t = 'VARCHAR'))
        AND list_min(list_transform(json_extract_string(doc, '$.tags[*]'), s -> length(s))) >= 4
        AND json_type(doc, '$.meta') = 'OBJECT'
        AND json_type(doc, '$.meta.w') IN ('BIGINT', 'UBIGINT')
        AND CAST(json_extract(doc, '$.meta.w') AS BIGINT) BETWEEN 5 AND 95""",
}


# doc column -> the contract schema it is gated with
DOC_SCHEMA = {"props": "events_dyn", "combo": "combo", "compound": "compound", "intake": "events_dyn"}


def kept_digest_sql(col: str, where: str, glob: str) -> str:
    """(count, sum(doc_id), sum(doc_id^2 mod p)) of the rows `where` keeps
    when `doc` is the column `col`."""
    return (
        f"SELECT count(*), coalesce(sum(doc_id), 0), "
        f"coalesce(sum((doc_id * doc_id) % {SUMSQ_MOD}), 0) "
        f"FROM (SELECT doc_id, {col} AS doc FROM read_parquet('{glob}')) "
        f"WHERE CASE WHEN json_valid(doc) AND NOT regexp_matches(doc, ',\\s*[}}\\]]') "
        f"THEN ({where}) ELSE false END"
    )


def doc_input(cache_root: str, seed: int, n: int) -> dict:
    """Parquet of n seeded doc rows plus the DuckDB verdict per doc column."""
    path = _cache_dir(cache_root, "docs", seed, n, "na")
    oracle_path = os.path.join(path, "_oracle.json")
    meta = {"n_docs": n, "path": path, "gen_s": 0.0, "oracle_s": 0.0, "cached": True}
    if os.path.isfile(oracle_path):
        with open(oracle_path, encoding="utf-8") as fh:
            meta["oracle"] = json.load(fh)
        return meta
    t0 = time.perf_counter()
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    table = pa.table(_docs(seed, n))
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{k}.parquet"))
    t1 = time.perf_counter()
    import duckdb

    con = duckdb.connect()
    try:
        glob = os.path.join(tmp, "*.parquet")
        oracle = {
            col: list(con.execute(kept_digest_sql(col, ORACLE_WHERE[schema], glob)).fetchone())
            for col, schema in DOC_SCHEMA.items()
        }
    finally:
        con.close()
    with open(os.path.join(tmp, "_oracle.json"), "w", encoding="utf-8") as fh:
        json.dump(oracle, fh)
    _publish(tmp, path)
    meta.update(oracle=oracle, gen_s=t1 - t0, oracle_s=time.perf_counter() - t1, cached=False)
    return meta


if __name__ == "__main__":
    # image generation worker: start total n_end k out
    a = sys.argv[1:]
    _write_image_part(int(a[0]), int(a[1]), int(a[2]), int(a[3]), a[4])
