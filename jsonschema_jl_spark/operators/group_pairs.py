"""Group pairing kernel: pair the rows that share a group key in one Arrow pass.

Every grouped candidate generator (LSH buckets, phash pigeonhole blocks,
containment anchors, n-gram groups, hyperplane buckets) has the same
shape: rows carry a group key, and every pair of rows inside a group (or
every probe x gram pair, for anchors) is a candidate, unless the group is
above a cap.  `pair_groups` is the one Spark path for all of them, a
packed exchange:

  * map side, one `mapInArrow` (`pack`): the caller's batch function
    builds the group rows from each input batch in numpy (flattening a
    list of keys, cutting phash blocks, sampling anchor grams); rows with
    a null id or key are dropped; the rows are split by destination
    partition (a numpy hash of the key columns) and each split leaves as
    ONE Arrow IPC stream in a `(part int, block binary)` row.  `part` is a
    code that Spark's `HashPartitioning(par)` — Murmur3 `hashInt`, seed
    42, what `F.hash` computes — sends to exactly that destination
    (`partition_codes`, found on the driver);
  * one `repartition(par, "part")`: a REPARTITION_BY_NUM exchange, which
    AQE never coalesces, so every group lives wholly in one partition;
  * reduce side, `pair_runs` over the blocks, read zero-copy:
      - numpy sorts the partition's rows by key and cuts the key runs;
      - runs of one row are dropped, and runs above the cap are dropped
        with their count and rows added to the caller's accumulators;
        with `NO_CAP` every run pairs — the exact path for skewed inputs;
      - member pairs leave in batches of at most `budget` pairs — a run's
        pairs are never built as one array, whatever the cap.

Past the pack the JVM moves a few opaque blocks per map task: no Generate
node explodes group rows before the exchange, the exchange shuffles no
group row, and the reduce side converts none UnsafeRow -> Arrow.  The
group rows are exchanged once and never persisted.  The index
generators, the popcount, the partition codes, the pack and the kernel
are plain numpy/pyarrow and are tested without Spark.

Memory: a pack task holds at most PACK_ROWS group rows before it writes
its blocks, and routes them with per-row temporaries only (a string key
is hashed one byte position at a time over all rows, never with a
temporary per key byte); a reduce task holds one partition's group rows
(the pipeline's `hot_par` floor bounds a partition at ~50k documents'
rows, far below the 2 GiB limit on one Arrow `binary` batch of blocks)
plus one pair batch.
"""

from __future__ import annotations

import functools
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from jsonschema_jl_spark.operators.minhash import _splitmix, arrow_bytes

PAIR_BUDGET = 1 << 20  # pairs per emitted batch (two int64 index arrays: 16 MB)
NO_CAP = (1 << 63) - 1  # a cap no group reaches: the exact, uncapped pair set
PACK_ROWS = 1 << 22  # group rows a pack task holds before it writes its blocks
SPARK_HASH_SEED = 42  # the seed of Spark's HashPartitioning and F.hash

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


# -- the packed exchange ----------------------------------------------------

def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def murmur3_int(v) -> np.ndarray:
    """Spark's Murmur3_x86_32.hashInt of int32 values with SPARK_HASH_SEED —
    what `F.hash` (and HashPartitioning) computes for an int column — as
    int32."""
    k = np.asarray(v, dtype=np.int64).astype(np.int32).view(np.uint32) * np.uint32(0xCC9E2D51)
    k = _rotl32(k, 15) * np.uint32(0x1B873593)
    h = _rotl32(np.uint32(SPARK_HASH_SEED) ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(4)
    h = (h ^ (h >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h = (h ^ (h >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return (h ^ (h >> np.uint32(16))).view(np.int32)


@functools.lru_cache(maxsize=64)
def partition_codes(par: int) -> np.ndarray:
    """codes[p]: the smallest non-negative int32 that HashPartitioning(par)
    sends to partition p, i.e. pmod(murmur3_int(code), par) == p."""
    codes = np.full(par, -1, dtype=np.int32)
    step = max(1 << 12, 16 * par)
    for start in range(0, 1 << 31, step):
        c = np.arange(start, start + step, dtype=np.int64)
        dest, first = np.unique(murmur3_int(c).astype(np.int64) % par, return_index=True)
        todo = codes[dest] < 0
        codes[dest[todo]] = c[first[todo]]
        if (codes >= 0).all():
            return codes
    raise ValueError(f"no partition codes for {par} partitions")


def _key_hash(col: pa.Array) -> np.ndarray:
    """A uint64 hash per value of a non-null key column: integers and
    booleans by value, strings and binaries by their bytes."""
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return col.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        raise TypeError(f"unsupported group key type {t}")
    data, off = arrow_bytes(col)
    lens = np.diff(off)
    # Horner over byte positions with the rows sorted longest first, so the
    # rows still that long at byte j are a prefix: every temporary is per
    # row, never per key byte
    order = np.argsort(-lens, kind="stable")
    start = off[:-1][order]
    longer = np.bincount(lens, minlength=1)[::-1].cumsum()[::-1]  # rows of len >= j
    h = np.zeros(len(lens), dtype=np.uint64)
    for j in range(1, len(longer)):
        live = int(longer[j])
        h[:live] = h[:live] * np.uint64(1099511628211) + data[start[:live] + (j - 1)]
    out = np.empty_like(h)
    out[order] = h
    return out ^ lens.astype(np.uint64)


def destinations(table: pa.Table, keys: list[str], par: int) -> np.ndarray:
    """The partition (0..par-1) of each row: a hash of its key columns, so
    every row of a group goes to one partition whichever task packs it."""
    h = np.zeros(table.num_rows, dtype=np.uint64)
    for k in keys:
        h = _splitmix(h ^ _key_hash(table.column(k).combine_chunks()))
    return (h % np.uint64(par)).astype(np.int64)


def _blocks(table: pa.Table, keys: list[str], codes: np.ndarray) -> pa.RecordBatch:
    """One (part, block) row per destination that has rows: the rows bound
    there, as one Arrow IPC stream, all streams in one data buffer."""
    dest = destinations(table, keys, len(codes))
    order = np.argsort(dest, kind="stable")
    table, dest = table.take(order), dest[order]
    starts = np.flatnonzero(np.r_[True, dest[1:] != dest[:-1]])
    ends = np.append(starts[1:], len(dest))
    sink = pa.BufferOutputStream()
    offsets = [0]
    for a, b in zip(starts, ends):
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table.slice(a, b - a))
        offsets.append(sink.tell())
    block = pa.Array.from_buffers(
        pa.binary(), len(starts),
        [None, pa.py_buffer(np.array(offsets, dtype=np.int32)), sink.getvalue()],
    )
    return pa.record_batch(
        [pa.array(codes[dest[starts]], pa.int32()), block], names=["part", "block"]
    )


def _valid(rows, cols: list[str]) -> pa.Table:
    """The rows as a Table, without those holding a null in any of `cols`."""
    table = rows if isinstance(rows, pa.Table) else pa.Table.from_batches([rows])
    nulls = [table.column(c).is_valid() for c in cols if table.column(c).null_count]
    if nulls:
        table = table.filter(functools.reduce(pc.and_, nulls))
    return table


def pack(
    batches: Iterable[pa.RecordBatch], rows: Callable, keys: list[str], codes: np.ndarray,
) -> Iterator[pa.RecordBatch]:
    """The map side of the packed exchange: `rows(batch)` builds each input
    batch's group rows (an Arrow table or batch holding `id` and `keys`);
    rows with a null id or key are dropped, and every PACK_ROWS rows (and
    at the end) the held rows leave as (part, block) rows."""
    held: list[pa.Table] = []
    n = 0
    for batch in batches:
        if not batch.num_rows:
            continue
        table = _valid(rows(batch), ["id", *keys])
        if table.num_rows:
            held.append(table)
            n += table.num_rows
        if n >= PACK_ROWS:
            yield _blocks(pa.concat_tables(held), keys, codes)
            held, n = [], 0
    if held:
        yield _blocks(pa.concat_tables(held), keys, codes)


def unpack(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The group rows inside (part, block) batches, read zero-copy from
    the block buffers."""
    for batch in batches:
        data, off = arrow_bytes(batch.column("block"))
        for a, b in zip(off[:-1], off[1:]):
            yield from pa.ipc.open_stream(pa.py_buffer(data[a:b]))


def list_rows(list_col: str, key: str, pos: str | None = None) -> Callable:
    """A batch function for `pair_groups`: one (id, key) row per element of
    the list column `list_col` — `id` repeated, the flattened list as
    `key`, and with `pos` the element's index in its list (int32).  A null
    list has no rows."""

    def rows(batch: pa.RecordBatch) -> pa.Table:
        lists = batch.column(list_col)
        lens = pc.list_value_length(lists).fill_null(0).to_numpy()
        row = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
        cols = {"id": batch.column("id").take(row), key: lists.flatten()}
        if pos is not None:
            start = np.cumsum(lens) - lens
            cols[pos] = pa.array((np.arange(len(row)) - start[row]).astype(np.int32))
        return pa.table(cols)

    return rows


def same_rows(batch: pa.RecordBatch) -> pa.RecordBatch:
    """A batch function for `pair_groups` whose input rows are the group
    rows already."""
    return batch


def pack_groups(df, rows: Callable, keys: list[str], num_partitions: int | None = None):
    """`df` packed and exchanged: `pack` over its Arrow batches, then ONE
    repartition on the partition code into `num_partitions` (by default
    the session's shuffle partitions).  Reduce task p receives exactly the
    blocks of destination p."""
    par = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    packer = functools.partial(pack, rows=rows, keys=list(keys), codes=partition_codes(par))
    return df.mapInArrow(packer, "part int, block binary").repartition(par, "part")


def _pair_blocks(batches, **kernel) -> Iterator[pa.RecordBatch]:
    return pair_runs(unpack(batches), **kernel)


def pair_groups(
    df,
    rows: Callable,
    keys: list[str],
    emitter,
    schema,
    cap: int,
    num_partitions: int | None = None,
    capped: tuple | None = None,
    gram_col: str | None = None,
):
    """The Spark side: `df`'s group rows built by `rows` and exchanged
    packed on `keys` (`pack_groups`), then `pair_runs` per partition as a
    mapInArrow emitting `schema`."""
    kernel = functools.partial(
        _pair_blocks, keys=list(keys), emitter=emitter, cap=cap, capped=capped, gram_col=gram_col
    )
    return pack_groups(df, rows, keys, num_partitions).mapInArrow(kernel, schema)
