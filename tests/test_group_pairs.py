"""Spark-free tests of the group-pairs kernel (operators/group_pairs.py):
the triangle and probe x gram index generators against brute force, the
pair budget, popcount64, the kernel's cap accounting, and the packed
exchange's map side (routing, null drop, blocks) with the detectors'
batch functions."""

from __future__ import annotations

import itertools
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.operators import group_pairs
from jsonschema_jl_spark.operators.group_pairs import (
    anchor_emitter,
    block_emitter,
    bucket_emitter,
    cross_index,
    destinations,
    list_rows,
    pack,
    pair_runs,
    partition_codes,
    popcount64,
    same_rows,
    triangle_index,
    unpack,
)
from jsonschema_jl_spark.operators.phash import block_rows
from jsonschema_jl_spark.operators.substring import anchor_rows


class _Acc:
    """Stands in for a Spark accumulator."""

    def __init__(self) -> None:
        self.value = 0

    def add(self, v: int) -> None:
        self.value += v


def _pairs(gen) -> list[tuple[int, int]]:
    return [(int(a), int(b)) for left, right in gen for a, b in zip(left, right)]


def _brute_triangle(sizes) -> list[tuple[int, int]]:
    out, start = [], 0
    for n in sizes:
        out += list(itertools.combinations(range(start, start + n), 2))
        start += n
    return out


def _brute_cross(n_probe, n_gram) -> list[tuple[int, int]]:
    out, start = [], 0
    for p, g in zip(n_probe, n_gram):
        out += list(itertools.product(range(start, start + p), range(start + p, start + p + g)))
        start += p + g
    return out


@pytest.mark.parametrize("seed", range(5))
def test_triangle_index_matches_itertools(seed):
    rng = np.random.default_rng(seed)
    sizes = rng.integers(0, 9, size=rng.integers(1, 30))
    assert _pairs(triangle_index(sizes)) == _brute_triangle(sizes)


@pytest.mark.parametrize("seed", range(5))
def test_cross_index_matches_itertools(seed):
    rng = np.random.default_rng(seed)
    k = int(rng.integers(1, 30))
    n_probe, n_gram = rng.integers(0, 6, size=k), rng.integers(0, 7, size=k)
    assert _pairs(cross_index(n_probe, n_gram)) == _brute_cross(n_probe, n_gram)


def test_index_generators_empty():
    assert _pairs(triangle_index([])) == []
    assert _pairs(cross_index([], [])) == []
    assert _pairs(triangle_index([1, 0, 1])) == []
    assert _pairs(cross_index([3, 0], [0, 4])) == []


@pytest.mark.parametrize("budget", [1, 3, 7, 50])
def test_index_budget_splits_batches(budget):
    sizes = [12, 2, 5]  # the 12-run alone has 66 pairs
    batches = list(triangle_index(sizes, budget=budget))
    assert all(len(left) <= budget for left, _ in batches)
    assert _pairs(batches) == _brute_triangle(sizes)
    batches = list(cross_index([4, 1], [9, 3], budget=budget))
    assert all(len(left) <= budget for left, _ in batches)
    assert _pairs(batches) == _brute_cross([4, 1], [9, 3])


def test_popcount64_matches_bin():
    rng = np.random.default_rng(3)
    x = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=2000, dtype=np.int64)
    x[:4] = [0, -1, np.iinfo(np.int64).min, np.iinfo(np.int64).max]
    want = [bin(int(v) & ((1 << 64) - 1)).count("1") for v in x]
    assert popcount64(x).tolist() == want
    u = x.view(np.uint64)
    assert popcount64(u).tolist() == [bin(int(v)).count("1") for v in u]


def _bucket_batch(ids, keys, id_type):
    return pa.record_batch(
        [pa.array(ids, id_type), pa.array(keys, pa.int64())], names=["id", "bucket"]
    )


def _brute_bucket_pairs(ids, keys, cap):
    groups: dict = {}
    for i, k in zip(ids, keys):
        groups.setdefault(k, []).append(i)
    out = set()
    for members in groups.values():
        if 1 < len(members) <= cap:
            out |= {(min(a, b), max(a, b)) for a, b in itertools.combinations(members, 2)}
    return out


@pytest.mark.parametrize("string_ids", [False, True])
def test_bucket_kernel_cap_and_accumulators(string_ids):
    """Runs of exactly the cap pair; cap+1 runs are dropped and counted;
    singletons emit nothing.  Rows arrive over several batches."""
    cap = 4
    sizes = {10: cap, 20: cap + 1, 30: 1, 40: 2, 50: cap + 3}
    keys = [k for k, n in sizes.items() for _ in range(n)]
    rng = np.random.default_rng(5)
    perm = rng.permutation(len(keys))
    keys = [keys[i] for i in perm]
    ids = [int(v) for v in rng.choice(10_000, size=len(keys), replace=False)]
    if string_ids:
        ids = [f"img{v:06d}" for v in ids]
    id_type = pa.string() if string_ids else pa.int64()
    batches = [_bucket_batch(ids[:7], keys[:7], id_type), _bucket_batch(ids[7:], keys[7:], id_type)]
    acc = (_Acc(), _Acc())
    out = list(pair_runs(batches, ["bucket"], bucket_emitter, cap=cap, capped=acc))
    got = {(s, d) for b in out for s, d in zip(b.column("src").to_pylist(), b.column("dst").to_pylist())}
    assert got == _brute_bucket_pairs(ids, keys, cap)
    assert len(got) == 6 + 1
    assert (acc[0].value, acc[1].value) == (2, (cap + 1) + (cap + 3))
    assert all(b.schema.field("src").type == id_type for b in out)


def test_kernel_empty_partition():
    acc = (_Acc(), _Acc())
    assert list(pair_runs([], ["bucket"], bucket_emitter, cap=4, capped=acc)) == []
    empty = _bucket_batch([], [], pa.int64())
    assert list(pair_runs([empty], ["bucket"], bucket_emitter, cap=4, capped=acc)) == []
    assert (acc[0].value, acc[1].value) == (0, 0)


def test_kernel_budget_batches_one_run():
    """A run whose triangle (45 pairs) exceeds the budget leaves in several
    batches, none over the budget, with the same pairs as one batch."""
    ids = list(range(100, 110))
    batch = _bucket_batch(ids, [7] * 10, pa.int64())
    whole = list(pair_runs([batch], ["bucket"], bucket_emitter, cap=64))
    split = list(pair_runs([batch], ["bucket"], bucket_emitter, cap=64, budget=8))
    assert len(whole) == 1 and len(split) == 6
    assert all(b.num_rows <= 8 for b in split)
    as_set = lambda bs: {p for b in bs for p in zip(b.column("src").to_pylist(), b.column("dst").to_pylist())}  # noqa: E731
    assert as_set(split) == as_set(whole) == set(itertools.combinations(ids, 2))


def test_block_kernel_two_keys_and_radius():
    """phash blocks group on (block, key); the popcount verify keeps pairs
    within the radius, including hashes with the top bit set."""
    top = np.iinfo(np.int64).min  # only the top bit
    rows = [  # (id, ph, block, key)
        (1, top, 0, 5), (2, top | 0b11, 0, 5), (3, top | 0b111, 0, 5),
        (4, 0b1, 1, 5),  # same key, other block: no pair with block 0
        (5, 0b11, 1, 5),
    ]
    batch = pa.record_batch(
        [pa.array([r[i] for r in rows], t) for i, t in
         enumerate([pa.int64(), pa.int64(), pa.int32(), pa.int64()])],
        names=["id", "ph", "block", "key"],
    )
    out = list(pair_runs([batch], ["block", "key"], block_emitter(2), cap=10))
    got = {(s, d, h) for b in out for s, d, h in zip(*(b.column(c).to_pylist() for c in ("src", "dst", "hamming")))}
    assert got == {(1, 2, 2), (2, 3, 1), (4, 5, 1)}


@pytest.mark.parametrize("string_ids", [False, True])
def test_anchor_kernel_offsets_and_gram_cap(string_ids):
    """Probe x gram pairs inside an anchor keep only a shorter probe that
    fits its container at the derived offset; gram-heavy anchors are capped
    on their gram count (probes do not count): anchor 1 holds exactly cap
    grams and pairs, anchor 3 holds cap + 1 and is dropped."""
    def ident(v):
        return f"d{v}" if string_ids else v

    # (key, id, len, pos, h1, is_gram)
    rows = [
        (1, 1, 20, 2, 111, False),   # probe doc 1, p=2
        (1, 2, 40, 6, 0, True),      # gram of doc 2 at 6 -> o=5, 5+19<=40 keep
        (1, 3, 20, 1, 0, True),      # same length container -> drop
        (1, 1, 20, 11, 0, True),     # doc 1's own gram -> drop (id == id_b)
        (1, 4, 25, 1, 0, True),      # o=0 -> drop
        (1, 5, 22, 6, 0, True),      # o=5, 5+19=24 > 22 -> drop
        (2, 6, 18, 1, 222, False),   # probes alone: no grams, no pairs
        (2, 7, 18, 2, 333, False),
        (3, 8, 17, 1, 444, False),   # anchor 3: 6 grams > cap 5 -> capped
        *[(3, 9 + i, 50, 1 + 5 * i, 0, True) for i in range(6)],
        (4, 22, 16, 1, 555, False), (4, 23, 30, 6, 0, True), (4, 24, 30, 11, 0, True),
    ]
    id_type = pa.string() if string_ids else pa.int64()
    cols = list(zip(*rows))
    batch = pa.record_batch(
        [pa.array(cols[0], pa.int64()), pa.array([ident(v) for v in cols[1]], id_type),
         pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.int32()),
         pa.array(cols[4], pa.int64()), pa.array(cols[5], pa.bool_())],
        names=["key", "id", "len", "pos", "h1", "is_gram"],
    )
    acc = (_Acc(), _Acc())
    out = list(pair_runs([batch], ["key"], anchor_emitter, cap=5, capped=acc, gram_col="is_gram"))
    got = {tuple(r.values()) for b in out for r in b.to_pylist()}
    assert got == {
        (ident(1), ident(2), 5, 20, 111),
        (ident(22), ident(23), 6, 16, 555),
        (ident(22), ident(24), 11, 16, 555),
    }
    assert (acc[0].value, acc[1].value) == (1, 6)


def _unpacked(out: list[pa.RecordBatch], codes: np.ndarray, keys: list[str]) -> list[dict]:
    """Every row inside the packed batches, after checking that each block
    holds only rows routed to the partition its code names."""
    rows = []
    for batch in out:
        for part, block in zip(batch.column("part").to_pylist(), batch.column("block")):
            one = pa.record_batch([pa.array([part], pa.int32()), pa.array([block.as_py()], pa.binary())],
                                  names=["part", "block"])
            table = pa.Table.from_batches(list(unpack([one])))
            dest = destinations(table, keys, len(codes))
            assert (codes[dest] == part).all()
            rows += table.to_pylist()
    return rows


@pytest.mark.parametrize("pack_rows", [2, None])
def test_pack_routes_rows_and_drops_nulls(monkeypatch, pack_rows):
    """Rows with a null id or key never leave the pack; every other row
    leaves exactly once, in a block of its destination, whether the held
    rows are written once or in several rounds."""
    if pack_rows is not None:
        monkeypatch.setattr(group_pairs, "PACK_ROWS", pack_rows)
    ids = [1, 2, None, 4, 5, 6, 7, 8]
    keys = ["k1", "é", "k1", None, "k1", "東京", "é", "k3"]
    n = [0, 1, 0, 1, 0, 1, 0, 1]
    batches = [
        pa.record_batch([pa.array(ids[a:b], pa.int64()), pa.array(keys[a:b]), pa.array(n[a:b], pa.int64())],
                        names=["id", "s", "n"])
        for a, b in [(0, 3), (3, 3), (3, 8)]
    ]
    codes = partition_codes(4)
    out = list(pack(batches, same_rows, ["s", "n"], codes))
    assert len(out) == (1 if pack_rows is None else 2)
    got = sorted((r["id"], r["s"], r["n"]) for r in _unpacked(out, codes, ["s", "n"]))
    want = sorted((i, k, m) for i, k, m in zip(ids, keys, n) if i is not None and k is not None)
    assert got == want


@pytest.mark.parametrize("key_len", [32, 1024])
def test_key_hash_memory_is_per_row(key_len):
    """The string key hash allocates per row, not per key byte: its numpy
    peak stays under 128 bytes a row whatever the key length (a per-byte
    int64 temporary alone would be 8 * key_len bytes a row), so a pack
    flush of PACK_ROWS rows peaks at a fixed multiple of PACK_ROWS."""
    n = 4096
    keys = pa.array([f"{i:0{key_len}d}" for i in range(n)])
    tracemalloc.start()
    try:
        h = group_pairs._key_hash(keys)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(np.unique(h)) == n
    assert peak < 128 * n


def test_destinations_ignore_slicing_and_group_equal_keys():
    """A key's destination depends on its value only: sliced arrays,
    large_string copies and other batches route it alike."""
    words = pa.array(["", "a", "ab", "東京", "😀", "a", "ab", "naïve"] * 3)
    whole = destinations(pa.table({"k": words}), ["k"], 64)
    part = destinations(pa.table({"k": words.slice(5, 10)}), ["k"], 64)
    large = destinations(pa.table({"k": words.cast(pa.large_string())}), ["k"], 64)
    assert part.tolist() == whole[5:15].tolist() and large.tolist() == whole.tolist()
    by_word: dict = {}
    for w, d in zip(words.to_pylist(), whole):
        by_word.setdefault(w, set()).add(int(d))
    assert all(len(d) == 1 for d in by_word.values())
    ints = pa.array([7, -1, 7, 1 << 62], pa.int64())
    d = destinations(pa.table({"k": ints}), ["k"], 1000)
    assert d[0] == d[2] and ((0 <= d) & (d < 1000)).all()


def test_list_rows_flatten_with_positions():
    batch = pa.record_batch(
        [pa.array([10, 11, 12, 13]), pa.array([[5, 6], None, [], [7, 8, 9]], pa.list_(pa.int64()))],
        names=["id", "keys"],
    ).slice(0, 4)
    got = list_rows("keys", "bucket", pos="table")(batch).to_pylist()
    assert got == [
        {"id": 10, "bucket": 5, "table": 0}, {"id": 10, "bucket": 6, "table": 1},
        {"id": 13, "bucket": 7, "table": 0}, {"id": 13, "bucket": 8, "table": 1},
        {"id": 13, "bucket": 9, "table": 2},
    ]
    assert list_rows("keys", "g")(batch.slice(3)).to_pylist() == [
        {"id": 13, "g": 7}, {"id": 13, "g": 8}, {"id": 13, "g": 9},
    ]


def test_block_rows_cut_pigeonhole_blocks():
    """r+1 blocks of the 64 phash bits, the last taking the remainder;
    a null phash has no blocks."""
    cfg = DedupConfig(hamming_radius=6)  # 7 blocks: six of 9 bits, one of 10
    phs = [-1, 0x0123456789ABCDEF, None, np.iinfo(np.int64).min]
    batch = pa.record_batch([pa.array(["a", "b", "c", "d"]), pa.array(phs, pa.int64())],
                            names=["id", "ph"])
    got = block_rows(cfg)(batch).to_pylist()
    want = []
    for i, ph in zip("abcd", phs):
        if ph is None:
            continue
        u = ph & ((1 << 64) - 1)
        for b in range(7):
            w = 9 if b < 6 else 10
            want.append({"id": i, "ph": ph, "block": b, "key": (u >> (9 * b)) & ((1 << w) - 1)})
    assert got == want


def _poly(window: bytes) -> int:
    """The anchor key of a g-byte window: sum(byte_j * B^j) mod 2^64, as
    signed int64 (minhash._shingle_flat_from_buffer's Horner hash)."""
    h = sum(b * pow(1099511628211, j, 1 << 64) for j, b in enumerate(window)) % (1 << 64)
    return h - (1 << 64) if h >= 1 << 63 else h


def test_anchor_rows_byte_grams():
    """Probe rows are each text's first s byte grams; gram rows sit at byte
    positions 1, 1+s, ... <= len - g + 1; len and pos count UTF-8 bytes."""
    g, s = 4, 3
    texts = ["abcdefghij", "café東京😀 ok", "xyzxyz"]
    batch = pa.record_batch(
        [pa.array([1, 2, 3]), pa.array(texts), pa.array([111, 222, 333], pa.int64())],
        names=["id", "txt", "h1"],
    )
    got = sorted(tuple(r.values()) for r in anchor_rows(g, s)(batch).to_pylist())
    want = []
    for i, t, h1 in zip([1, 2, 3], texts, [111, 222, 333]):
        b = t.encode()
        for p in range(1, s + 1):
            want.append((_poly(b[p - 1:p - 1 + g]), i, len(b), p, h1, False))
        for q in range(1, len(b) - g + 2, s):
            want.append((_poly(b[q - 1:q - 1 + g]), i, len(b), q, 0, True))
    assert got == sorted(want)
