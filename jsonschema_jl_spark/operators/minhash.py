"""Caption normalization, char shingling, MinHash signatures and LSH band
keys (P2+P3+P4).

One Arrow batch function, `signature_batch(text, cfg, normalized, emit)`,
turns a string array into any subset of SIGNATURE_OUTPUTS = {txt_norm,
shingles, minhash, bands}: it reads the UTF-8 bytes straight from the
array's buffers and runs whole-batch numpy from there, with no per-row
Python objects.  `normalize_signatures_bands` (the pipeline's {txt_norm,
bands}), `with_signatures` ({shingles, minhash} or {minhash}) and
verify's text Jaccard are thin wrappers over it.  The shingle/permutation
parameters come exclusively from DedupConfig so the engine and the recall
oracle can never diverge (BASELINE.json:6).

Hashing scheme (documented, deterministic):
  * normalize: NFC -> casefold -> whitespace collapse (P2)
  * shingles: k-byte windows of the UTF-8 normalized text, hashed with a
    polynomial rolling hash in uint64 (natural mod-2^64 wraparound), deduped
  * signatures: one-permutation hashing — each shingle hash lands in one of
    num_perm bins, the bin keeps the min of a splitmix value hash, and empty
    bins are densified by rotation (_oph_signatures_flat)
"""

from __future__ import annotations

import unicodedata
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig, DEFAULT_CONFIG

_POLY_BASE = np.uint64(1099511628211)  # FNV-ish odd multiplier


def normalize_text(s: str) -> str:
    """NFC + casefold + whitespace collapse.  Single definition shared by the
    distributed kernel and the driver-side exact oracle.  Idempotent (NFC,
    Unicode full case folding, and whitespace collapse each are), so a
    pre-normalized pipeline and a normalize-inside-kernel caller produce
    identical shingles."""
    s = unicodedata.normalize("NFC", s)
    s = s.casefold()
    return " ".join(s.split())


def normalize_series(s: pd.Series) -> pd.Series:
    """Vectorized normalize_text over a batch (pandas .str kernels); nulls
    pass through."""
    mask = s.notna()
    if not mask.any():
        return s
    out = s.copy()
    vals = s[mask].astype(str)
    out[mask] = vals.str.normalize("NFC").str.casefold().str.split().str.join(" ")
    return out


@F.pandas_udf(T.StringType())
def normalize_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Arrow-batched caption normalization (P2).  The pipeline applies this
    ONCE into its persisted projection; every downstream text kernel
    (shingles/MinHash, containment grams, Jaccard verify) then runs with
    normalized=True instead of each re-normalizing the full corpus."""
    for s in it:
        yield normalize_series(s)


def shingle_set_np(s: str, k: int, normalized: bool = False) -> np.ndarray:
    """Deduped uint64 hashes of all k-byte windows of the normalized text.
    Texts shorter than k hash as a single whole-text shingle.
    normalized=True skips normalize_text (caller already applied it)."""
    b = (s if normalized else normalize_text(s)).encode("utf-8")
    if len(b) < k:
        b = b.ljust(k, b"\x00")  # sub-k texts hash as one zero-padded window
    arr = np.frombuffer(b, dtype=np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(arr, k)
    powers = _POLY_BASE ** np.arange(k, dtype=np.uint64)
    h = win.astype(np.uint64) @ powers  # wraps mod 2^64
    return np.unique(h)


def _shingle_flat_from_buffer(
    arr: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(hashes, row ids) of every k-byte window of a concatenated uint8
    buffer + per-row byte lengths (every row length >= k; pad before
    calling), in row order and NOT deduped.  Horner-hashes
    EVERY contiguous window of the whole buffer in k streaming passes (no
    index arrays), then masks out the k-1 windows per row that cross a row
    boundary — ~40x less memory traffic than gathering each window through
    a position array, which matters because this kernel runs on every core
    at once and the memory bus is the scaling bottleneck."""
    m = arr.size - (k - 1)                       # all contiguous windows
    a64 = arr.astype(np.uint64)
    h_all = a64[k - 1 : k - 1 + m].copy()
    for j in range(k - 2, -1, -1):
        h_all *= _POLY_BASE
        h_all += a64[j : j + m]
    # mask windows that straddle a row boundary (the last k-1 of each row)
    ends = np.cumsum(lens)
    mask = np.ones(m, dtype=bool)
    for j in range(1, k):
        idx = ends - j
        mask[idx[idx < m]] = False
    counts = lens - (k - 1)                      # windows per row (>= 1)
    return h_all[mask], np.repeat(np.arange(lens.size, dtype=np.int64), counts)


_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_HOP = np.uint64(0x9E37)  # densification hop offset; values are 63-bit so
                          # accumulated hops can never collide with _EMPTY


def _splitmix(z: np.ndarray) -> np.ndarray:
    z = (z + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _oph_signatures_flat(
    flat: np.ndarray, row: np.ndarray, n: int, cfg: DedupConfig
) -> np.ndarray:
    """One-permutation hashing: each shingle hash lands in ONE of P bins
    (its top log2(P) bits); the signature is the per-bin min of a value
    hash.  Empty bins are filled by rotation densification (nearest
    non-empty bin to the right, +HOP per hop) — the unbiased estimator of
    Shrivastava & Li.  O(total_shingles log) via one sort+reduceat, vs
    O(P * total_shingles) for classic k-permutation MinHash.  Duplicate
    shingles in `flat` are harmless (min over a multiset)."""
    P = cfg.num_perm
    logp = P.bit_length() - 1
    assert (1 << logp) == P, "num_perm must be a power of two for OPH"
    seed = np.uint64(cfg.minhash_seed)
    mixed = _splitmix(flat.astype(np.uint64) ^ seed)
    bins = (mixed >> np.uint64(64 - logp)).astype(np.int64)
    vals = _splitmix(mixed) >> np.uint64(1)  # 63-bit values, < _EMPTY
    key = row.astype(np.int64) * P + bins
    order = np.argsort(key, kind="stable")
    k_s, v_s = key[order], vals[order]
    starts = np.flatnonzero(np.r_[True, k_s[1:] != k_s[:-1]])
    mins = np.minimum.reduceat(v_s, starts)
    M = np.full(n * P, _EMPTY, dtype=np.uint64)
    M[k_s[starts]] = mins
    M = M.reshape(n, P)
    # rotation densification, closed form: empty bin j borrows from the
    # nearest filled bin at-or-right of j (cyclic), +HOP per hop — computed
    # directly via a reversed running min over filled-bin indices instead of
    # iterating roll-and-fill passes (which cost one full-matrix sweep per
    # hop; sparse rows needed dozens)
    filled = M != _EMPTY
    col = np.arange(P, dtype=np.int64)
    sentinel = np.iinfo(np.int64).max
    idxf = np.where(filled, col[None, :], sentinel)
    nxt = np.minimum.accumulate(idxf[:, ::-1], axis=1)[:, ::-1]
    # cyclic wrap: bins right of a row's last filled bin borrow its FIRST
    # filled bin, P hops further (every row has >= 1 shingle, so nxt[:,0]
    # is never the sentinel)
    nxt = np.where(nxt == sentinel, nxt[:, :1] + P, nxt)
    d = (nxt - col[None, :]).astype(np.uint64)
    donor = M[np.arange(n)[:, None], nxt % P]
    M = np.where(filled, M, donor + d * _HOP)
    # Interleave bins across LSH bands: densification copies a bin's
    # agreement onto its (empty) neighbors, so CONTIGUOUS bins are strongly
    # correlated — banding them together inflates false-candidate rates by
    # orders of magnitude.  Reorder so the contiguous slice for band k holds
    # bins {k, k+B, k+2B, k+3B}; copied runs then spread across different
    # bands and each band's bins are effectively independent.
    n_bands = cfg.num_bands
    perm = np.arange(P).reshape(cfg.rows_per_band, n_bands).T.reshape(-1)
    return M[:, perm].view(np.int64)


def band_keys_np(sigs_i64: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n, num_bands) int64 LSH bucket keys from an (n, num_perm) signature
    matrix — band b's key is a splitmix fold of the band's rows_per_band
    signature lanes, salted by the band index.

    This replaces per-row JVM banding (num_bands x xxhash64(slice(sig, ...))
    Catalyst expressions): at 108k rows x 32 bands the codegen span for
    slice+hash+posexplode measured 147 s of CPU — the dominant JVM cost of
    the whole signature stage — while this fold is rows_per_band vectorized
    passes over the matrix (~ms per batch).  Bucket keys are internal join
    keys: candidates are pairs agreeing on a band's CONTENT, so any
    deterministic injective-up-to-collision fold yields the same verified
    pairs as the xxhash64 formulation (collision odds ~n_bands*n^2/2^64;
    tests assert pair-set parity with the JVM path)."""
    n = sigs_i64.shape[0]
    B, r = cfg.num_bands, cfg.rows_per_band
    lanes = np.ascontiguousarray(sigs_i64).view(np.uint64).reshape(n, B, r)
    h = np.broadcast_to(
        _splitmix(np.arange(B, dtype=np.uint64) ^ np.uint64(cfg.minhash_seed)), (n, B)
    ).copy()
    for j in range(r):
        h = _splitmix(h ^ lanes[:, :, j])
    return h.view(np.int64)


def _pad_concat(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Contiguous uint8 buffer + per-row lengths with every row >= k bytes
    (zero-padded), built with ONE vectorized gather (the shingle pass needs
    a dense padded buffer)."""
    n = lens.size
    if not (lens < k).any() and (
        n == 1 or (starts[1:] == starts[:-1] + lens[:-1]).all()
    ):
        return data[starts[0] : starts[-1] + lens[-1]], lens
    out_lens = np.maximum(lens, k)
    ostarts = np.zeros(n, dtype=np.int64)
    np.cumsum(out_lens[:-1], out=ostarts[1:])
    buf = np.zeros(int(out_lens.sum()), dtype=np.uint8)
    tot = int(lens.sum())
    if tot:
        # rid[i] = source row of the i-th copied byte; ramp[i] = its offset
        # within that row (empty rows own no bytes)
        rid = np.repeat(np.arange(n, dtype=np.int64), lens)
        in_starts = np.concatenate(([0], np.cumsum(lens[:-1])))
        ramp = np.arange(tot, dtype=np.int64) - in_starts[rid]
        buf[ostarts[rid] + ramp] = data[starts[rid] + ramp]
    return buf, out_lens


SIGNATURE_OUTPUTS = ("txt_norm", "shingles", "minhash", "bands")


def _row_sets(
    flat: np.ndarray, row: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """(hashes, row ids) with each row's uint64 hashes deduped and sorted,
    rows in order.  np.lexsort's order in two passes: a quicksort of the
    hashes, then a stable sort of their row ids in the narrowest dtype that
    holds n (numpy radix-sorts uint8/uint16, i.e. any Arrow batch up to
    65,536 rows): about a quarter of np.lexsort's time on 3M windows."""
    order = np.argsort(flat)
    order = order[np.argsort(row[order].astype(np.min_scalar_type(n)), kind="stable")]
    f_s, r_s = flat[order], row[order]
    keep = np.ones(f_s.size, dtype=bool)
    keep[1:] = (f_s[1:] != f_s[:-1]) | (r_s[1:] != r_s[:-1])
    return f_s[keep], r_s[keep]


def _list_rows(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values, type=pa.int64())
    )


def arrow_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of a string or binary Arrow array (`large_` or not,
    sliced or not), read from its buffers without a copy: row i's bytes are
    data[offsets[i]:offsets[i + 1]] (int64 offsets, n + 1 of them).  A null
    row spans what the array stores for it, normally nothing."""
    n = len(arr)
    _, obuf, dbuf = arr.buffers()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    off = np.frombuffer(obuf, np.int64 if large else np.int32)[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(dbuf, np.uint8) if dbuf is not None else np.empty(0, np.uint8)
    return data, off.astype(np.int64)


def signature_batch(
    text: pa.Array, cfg: DedupConfig, normalized: bool, emit: Iterable[str]
) -> dict[str, pa.Array]:
    """The one text kernel: a string Arrow array in, the `emit`ted subset of
    SIGNATURE_OUTPUTS out, each an Arrow array of len(text) rows.

      txt_norm  string: normalize_text'd text (nulls stay null)
      shingles  list<long>: the row's deduped k-byte window hashes, sorted
                as uint64 (== shingle_set_np)
      minhash   list<long>: the num_perm OPH signature, bands interleaved
      bands     list<long>: the num_bands LSH bucket keys (band_keys_np)

    The UTF-8 bytes are read straight from the array's offsets and data
    buffers (`string` or `large_string`, sliced or not); normalized=False
    first rebuilds the array from normalize_series, and that rebuilt array
    is `txt_norm`.  A null row has length 0 and hashes as "" does.  Past
    the buffers the work is _pad_concat -> _shingle_flat_from_buffer ->
    _oph_signatures_flat -> band_keys_np, all whole-batch numpy."""
    emit = set(emit)
    if not emit <= set(SIGNATURE_OUTPUTS):
        raise ValueError(f"emit {sorted(emit)} is not a subset of {SIGNATURE_OUTPUTS}")
    if not normalized:
        text = pa.array(
            normalize_series(text.to_pandas().astype(object)), type=pa.string(), from_pandas=True
        )
    out = {"txt_norm": text}
    n = len(text)
    if n == 0:
        empty = _list_rows(np.empty(0, np.int64), np.zeros(1, np.int64))
        return {c: out.get(c, empty) for c in emit}
    k = cfg.shingle_k
    data, off = arrow_bytes(text)
    lens = np.diff(off)
    if text.null_count:
        lens[~text.is_valid().to_numpy(zero_copy_only=False)] = 0
    flat, row = _shingle_flat_from_buffer(*_pad_concat(data, off[:-1], lens, k), k)
    if "shingles" in emit:
        sets, set_rows = _row_sets(flat, row, n)
        out["shingles"] = _list_rows(
            sets.view(np.int64), np.searchsorted(set_rows, np.arange(n + 1))
        )
    if emit & {"minhash", "bands"}:
        sigs = _oph_signatures_flat(flat, row, n, cfg)
        if "minhash" in emit:
            out["minhash"] = _list_rows(sigs.reshape(-1), np.arange(n + 1) * cfg.num_perm)
        if "bands" in emit:
            out["bands"] = _list_rows(
                band_keys_np(sigs, cfg).reshape(-1), np.arange(n + 1) * cfg.num_bands
            )
    return {c: out[c] for c in emit}


def _map_signatures(
    df: DataFrame, text_col: str, cfg: DedupConfig, normalized: bool, emit: set[str],
    out_text_col: str = "txt_norm",
) -> DataFrame:
    """signature_batch over every Arrow batch of `df` in one mapInArrow.
    With "txt_norm" emitted, `text_col` is replaced in place by
    `out_text_col`; the list outputs are appended in SIGNATURE_OUTPUTS
    order."""
    ti = df.columns.index(text_col)
    fields = list(df.schema.fields)
    if "txt_norm" in emit:
        fields[ti] = T.StructField(out_text_col, T.StringType(), True)
    lists = [c for c in SIGNATURE_OUTPUTS[1:] if c in emit]
    schema = T.StructType(
        fields + [T.StructField(c, T.ArrayType(T.LongType()), False) for c in lists]
    )

    def gen(batches):
        for batch in batches:
            out = signature_batch(batch.column(ti), cfg, normalized, emit)
            cols = batch.columns
            if "txt_norm" in emit:
                cols[ti] = out["txt_norm"]
            yield pa.RecordBatch.from_arrays(
                cols + [out[c] for c in lists], names=schema.fieldNames()
            )

    return df.mapInArrow(gen, schema=schema)


def normalize_signatures_bands(
    df: DataFrame,
    text_col: str = "caption",
    cfg: DedupConfig = DEFAULT_CONFIG,
    out_text_col: str = "txt_norm",
) -> DataFrame:
    """P2+P3+P4 fused into ONE Arrow crossing — the pipeline hot path.

    Emits the input columns with `text_col` replaced by `out_text_col`
    (normalize_text'd, nulls preserved) plus `bands: array<long>` (the
    num_bands LSH bucket keys).  Shingles and the OPH signature matrix stay
    inside signature_batch and never cross the JVM boundary: banding is the
    pipeline's only consumer of the signatures (verification recomputes
    shingles from candidate TEXTS), so emitting `minhash` would cost
    num_perm*8 B/row of Arrow transfer (~200 MB per 100k rows at P=256)
    that the next operator discards, and a separate normalize stage would
    pay a second JVM<->Python round trip of the caption column."""
    return _map_signatures(
        df, text_col, cfg, normalized=False, emit={"txt_norm", "bands"},
        out_text_col=out_text_col,
    )


def with_signatures(
    df: DataFrame, text_col: str = "caption", cfg: DedupConfig = DEFAULT_CONFIG,
    keep_shingles: bool = True, assume_normalized: bool = False,
) -> DataFrame:
    """Add `minhash: array<long>` (and, when keep_shingles, the
    `shingles: array<long>` set before it) columns.

    keep_shingles=False skips materializing the shingle sets (~1 KB/row of
    Arrow transfer + cache); the verification stage recomputes shingles for
    the tiny candidate subset instead (verify.verify_jaccard_text).

    The Arrow kernel's parallelism equals the input partition count; a
    column-pruned scan of a few large files yields too few partitions to
    keep every core busy, so the (narrow) input is rebalanced first — a
    cheap shuffle that the banding shuffle downstream would pay anyway.
    The partition count follows the configured shuffle partitions (a data-
    size property), not the executor count — see pipeline.py."""
    df = df.repartition(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    emit = {"shingles", "minhash"} if keep_shingles else {"minhash"}
    return _map_signatures(df, text_col, cfg, normalized=assume_normalized, emit=emit)
