"""Group pairing kernel: pair the rows that share a group key in one Arrow pass.

Every grouped candidate generator (LSH buckets, phash pigeonhole blocks,
containment anchors, n-gram groups, hyperplane buckets) has the same
shape: rows carry a group key, and every pair of rows inside a group (or
every probe x gram pair, for anchors) is a candidate, unless the group is
above a cap.  Each generator exchanges its group rows ONCE
(`repartition(par, *keys)`, so every group lives wholly in one partition)
and pairs them where they land with `pair_runs` inside a `mapInArrow`:

  * numpy sorts the partition's rows by key and cuts the key runs;
  * runs of one row are dropped, and runs above the cap are dropped with
    their count and rows added to the caller's accumulators (the capped
    mass the old size-count aggregate reported); with `NO_CAP` every run
    pairs — the exact path for skewed inputs;
  * member pairs leave in batches of at most `budget` pairs — a run's pairs
    are never built as one array, whatever the cap.

Counting, capping and pairing happen in the task that receives the group,
so the group rows are exchanged once and never persisted.  The index
generators, the popcount and the kernel are plain numpy/pyarrow and are
tested without Spark.

Memory: the kernel holds one partition's group rows (the pipeline's
`hot_par` floor bounds a partition at ~50k documents' rows) plus one pair
batch.
"""

from __future__ import annotations

import functools
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

PAIR_BUDGET = 1 << 20  # pairs per emitted batch (two int64 index arrays: 16 MB)
NO_CAP = (1 << 63) - 1  # a cap no group reaches: the exact, uncapped pair set

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits per element of an int64/uint64 array (SWAR popcount; numpy
    1.x has no bitwise_count).  Returns int64."""
    v = np.ascontiguousarray(x).view(np.uint64)
    v = v - ((v >> np.uint64(1)) & _M1)
    v = (v & _M2) + ((v >> np.uint64(2)) & _M2)
    v = (v + (v >> np.uint64(4))) & _M4
    return ((v * _H01) >> np.uint64(56)).astype(np.int64)


def _expand(counts: np.ndarray, base: np.ndarray, budget: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Member m pairs with rows base[m] .. base[m] + counts[m] - 1.  Walks
    the flat pair index in slices of `budget`, so a member (or run) whose
    pairs exceed the budget is split across batches."""
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    starts = ends - counts
    for a in range(0, total, budget):
        k = np.arange(a, min(a + budget, total), dtype=np.int64)
        m = np.searchsorted(ends, k, side="right")
        yield m, base[m] + (k - starts[m])


def triangle_index(sizes, budget: int = PAIR_BUDGET) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(left, right) row indices of every pair i < j inside each run, for
    runs of `sizes` rows laid out back to back."""
    sizes = np.asarray(sizes, dtype=np.int64)
    run_end = np.repeat(np.cumsum(sizes), sizes)
    pos = np.arange(len(run_end), dtype=np.int64)
    return _expand(run_end - pos - 1, pos + 1, budget)


def cross_index(n_probe, n_gram, budget: int = PAIR_BUDGET) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(probe, gram) row indices of every probe x gram pair inside each run;
    run r holds n_probe[r] probe rows followed by n_gram[r] gram rows."""
    n_probe = np.asarray(n_probe, dtype=np.int64)
    n_gram = np.asarray(n_gram, dtype=np.int64)
    sizes = n_probe + n_gram
    start = np.cumsum(sizes) - sizes
    rank = np.arange(int(sizes.sum()), dtype=np.int64) - np.repeat(start, sizes)
    counts = np.where(rank < np.repeat(n_probe, sizes), np.repeat(n_gram, sizes), 0)
    return _expand(counts, np.repeat(start + n_probe, sizes), budget)


def pair_runs(
    batches: Iterable[pa.RecordBatch],
    keys: list[str],
    emitter: Callable[[pa.Table], Callable[[np.ndarray, np.ndarray], pa.RecordBatch]],
    cap: int,
    capped: tuple | None = None,
    gram_col: str | None = None,
    budget: int = PAIR_BUDGET,
) -> Iterator[pa.RecordBatch]:
    """The kernel over one partition's rows (all rows of a key in it).

    Without `gram_col` every pair inside a run is a candidate and the cap
    counts the run's rows; with it (a boolean column) runs pair their probe
    rows (False) with their gram rows (True) and the cap counts gram rows.
    `capped` is an optional (groups, rows) pair of accumulators for the
    runs above the cap.  `emitter(rows)` prepares the kept rows' columns and
    returns the function that turns one (left, right) index batch into the
    output batch (filtering is the emitter's business)."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    cols = [table.column(k).to_numpy() for k in keys]
    tag = None if gram_col is None else table.column(gram_col).to_numpy(zero_copy_only=False)
    # lexsort: the LAST key is primary; gram rows sort after a run's probes
    order = np.lexsort(([tag] if tag is not None else []) + cols[::-1])
    n = len(order)
    cut = np.zeros(n, dtype=bool)
    cut[0] = True
    for c in cols:
        c = c[order]
        cut[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(cut)
    sizes = np.diff(np.append(starts, n))
    if tag is None:
        weight = sizes
        keep = (sizes > 1) & (sizes <= cap)
    else:
        n_gram = np.add.reduceat(tag[order].astype(np.int64), starts)
        n_probe = sizes - n_gram
        weight = n_gram
        keep = (n_probe > 0) & (n_gram > 0) & (n_gram <= cap)
    hot = weight > cap
    if capped is not None and hot.any():
        capped[0].add(int(hot.sum()))
        capped[1].add(int(weight[hot].sum()))
    if not keep.any():
        return
    emit = emitter(table.take(order[np.repeat(keep, sizes)]))
    pairs = (
        triangle_index(sizes[keep], budget) if tag is None
        else cross_index(n_probe[keep], n_gram[keep], budget)
    )
    for left, right in pairs:
        out = emit(left, right)
        if out.num_rows:
            yield out


# -- id columns: int ids stay numpy, string ids stay Arrow -----------------

def _ids(rows: pa.Table):
    col = rows.column("id").combine_chunks()
    return col.to_numpy() if pa.types.is_integer(col.type) else col


def _take(ids, idx: np.ndarray):
    return ids[idx] if isinstance(ids, np.ndarray) else ids.take(idx)


def _ordered(ids, left: np.ndarray, right: np.ndarray):
    """(least, greatest) of each id pair — Spark's least/greatest order."""
    a, b = _take(ids, left), _take(ids, right)
    if isinstance(ids, np.ndarray):
        return np.minimum(a, b), np.maximum(a, b)
    le = pc.less_equal(a, b)
    return pc.if_else(le, a, b), pc.if_else(le, b, a)


def _differ(ids, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    if isinstance(ids, np.ndarray):
        return ids[left] != ids[right]
    return pc.not_equal(ids.take(left), ids.take(right)).to_numpy(zero_copy_only=False)


# -- the three detectors' emitters ----------------------------------------

def bucket_emitter(rows: pa.Table):
    """LSH buckets: (src, dst) = (least, greatest) of every pair."""
    ids = _ids(rows)

    def emit(left, right):
        src, dst = _ordered(ids, left, right)
        return pa.record_batch([src, dst], names=["src", "dst"])

    return emit


def block_emitter(radius: int):
    """phash blocks: (src, dst, hamming) of the pairs whose phashes differ
    in at most `radius` bits."""

    def emitter(rows: pa.Table):
        ids = _ids(rows)
        ph = rows.column("ph").to_numpy()

        def emit(left, right):
            ham = popcount64(ph[left] ^ ph[right])
            ok = ham <= radius
            src, dst = _ordered(ids, left[ok], right[ok])
            return pa.record_batch(
                [src, dst, ham[ok].astype(np.int32)], names=["src", "dst", "hamming"]
            )

        return emit

    return emitter


def anchor_emitter(rows: pa.Table):
    """Containment anchors: (id, id_b, o, len, h1) for each probe x gram
    pair whose derived offset o puts the probe inside a longer container."""
    ids = _ids(rows)
    ln = rows.column("len").to_numpy()
    pos = rows.column("pos").to_numpy()
    h1 = rows.column("h1").to_numpy()

    def emit(left, right):
        o = pos[right] - pos[left] + 1
        ok = (ln[left] < ln[right]) & (o >= 1) & (o + ln[left] - 1 <= ln[right])
        left, right, o = left[ok], right[ok], o[ok]
        ok = _differ(ids, left, right)
        left, right, o = left[ok], right[ok], o[ok]
        return pa.record_batch(
            [_take(ids, left), _take(ids, right), o.astype(np.int32),
             ln[left].astype(np.int32), h1[left]],
            names=["id", "id_b", "o", "len", "h1"],
        )

    return emit


def pair_groups(
    df,
    keys: list[str],
    emitter,
    schema,
    cap: int,
    num_partitions: int | None = None,
    capped: tuple | None = None,
    gram_col: str | None = None,
):
    """The Spark side: ONE exchange of `df` on `keys` (`num_partitions`, by
    default the session's shuffle partitions), then `pair_runs` per
    partition as a mapInArrow emitting `schema`."""
    par = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    kernel = functools.partial(
        pair_runs, keys=list(keys), emitter=emitter, cap=cap, capped=capped, gram_col=gram_col
    )
    return df.repartition(par, *keys).mapInArrow(kernel, schema)
