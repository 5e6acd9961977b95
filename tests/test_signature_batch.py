"""minhash.signature_batch, the one text -> shingles/MinHash/bands kernel,
called directly on Arrow arrays (no Spark): edge-case text, sliced and
large_string input, every emit combination, and a pinned digest of its
output buffers."""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np
import pyarrow as pa
import pytest

from jsonschema_jl_spark.config import DEFAULT_CONFIG as CFG
from jsonschema_jl_spark.datagen.images import _caption_for
from jsonschema_jl_spark.operators.minhash import (
    SIGNATURE_OUTPUTS, _row_sets, band_keys_np, normalize_text, shingle_set_np,
    signature_batch,
)
from jsonschema_jl_spark.operators.verify import _make_text_jaccard_udf

K = CFG.shingle_k
ALL = set(SIGNATURE_OUTPUTS)

EDGE = [
    None,
    "",
    "abc",                                   # shorter than shingle_k
    "x" * K,                                 # exactly one window
    "naïve café ☕ 𝄞 and 😀 astral",          # 2-, 3- and 4-byte UTF-8
    "Straße",                                # casefold expands ß -> ss
    "ﬁn",                                    # casefold expands the ligature
    "tab\tseparated\twords",
    "new\nline\r\nwords",
    "  MIXED   Case\t\n Text  ",
    None,
    "already normalized caption text",
    "e\u0301tude",                          # NFC composes e + combining acute
]


def _normalized(texts):
    return [None if t is None else normalize_text(t) for t in texts]


def _variants(texts):
    """The same rows as a plain, a sliced (offset != 0) and a large_string
    array."""
    padded = pa.array(["lead row", None] + texts + ["tail row"], type=pa.string())
    return {
        "string": pa.array(texts, type=pa.string()),
        "sliced": padded.slice(2, len(texts)),
        "large_string": pa.array(texts, type=pa.large_string()),
    }


@pytest.mark.parametrize("kind", ["string", "sliced", "large_string"])
def test_edge_batch_matches_scalar_reference(kind):
    arr = _variants(EDGE)[kind]
    assert kind != "sliced" or arr.offset == 2
    out = signature_batch(arr, CFG, normalized=False, emit=ALL)
    assert set(out) == ALL and all(len(v) == len(EDGE) for v in out.values())
    # txt_norm keeps the nulls and normalizes the rest
    assert out["txt_norm"].to_pylist() == _normalized(EDGE)
    # shingles: the scalar reference set, in its uint64-sorted order
    want = [shingle_set_np(normalize_text(t or ""), K).view(np.int64).tolist() for t in EDGE]
    assert out["shingles"].to_pylist() == want
    mh = np.array(out["minhash"].to_pylist(), dtype=np.int64)
    assert mh.shape == (len(EDGE), CFG.num_perm)
    assert np.array(out["bands"].to_pylist()).tolist() == band_keys_np(mh, CFG).tolist()
    # a null row hashes as "" does
    assert out["minhash"].to_pylist()[0] == out["minhash"].to_pylist()[1]


def test_minhash_identical_across_emit_sets_and_inputs():
    ref = signature_batch(pa.array(EDGE), CFG, normalized=False, emit={"minhash"})["minhash"]
    ref = ref.to_pylist()
    emits = [set(c) | {"minhash"} for r in range(4) for c in combinations(SIGNATURE_OUTPUTS, r)]
    for kind, arr in _variants(EDGE).items():
        for emit in emits:
            out = signature_batch(arr, CFG, normalized=False, emit=emit)
            assert set(out) == emit
            assert out["minhash"].to_pylist() == ref, (kind, emit)
    # normalized=True on pre-normalized text skips normalization only
    for kind, arr in _variants(_normalized(EDGE)).items():
        out = signature_batch(arr, CFG, normalized=True, emit=ALL)
        assert out["minhash"].to_pylist() == ref, kind
        assert out["txt_norm"].to_pylist() == _normalized(EDGE)


def test_null_slot_length_comes_from_validity():
    """Arrow lets a null slot span bytes; the kernel must still hash it as
    the empty string."""
    data = b"abcdefghijk"
    offsets = np.array([0, 6, 11], dtype=np.int32)
    validity = pa.py_buffer(np.packbits([1, 0], bitorder="little").tobytes())
    arr = pa.StringArray.from_buffers(
        2, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data), validity
    )
    assert arr.to_pylist() == ["abcdef", None]
    got = signature_batch(arr, CFG, normalized=True, emit={"shingles", "minhash"})
    want = signature_batch(
        pa.array(["abcdef", ""]), CFG, normalized=True, emit={"shingles", "minhash"}
    )
    assert got["shingles"].to_pylist() == want["shingles"].to_pylist()
    assert got["minhash"].to_pylist() == want["minhash"].to_pylist()


def test_empty_batch_and_unknown_output():
    out = signature_batch(pa.array([], type=pa.string()), CFG, normalized=False, emit=ALL)
    assert {c: len(v) for c, v in out.items()} == {c: 0 for c in ALL}
    with pytest.raises(ValueError, match="signatures"):
        signature_batch(pa.array(["text"]), CFG, normalized=True, emit={"signatures"})


def test_row_sets_matches_lexsort():
    """The two-pass sort equals np.lexsort's order, including when the row
    ids no longer fit the radix-sorted uint16."""
    rng = np.random.default_rng(3)
    for n in (1, 300, 70_000):
        row = rng.integers(0, n, 20_000)
        flat = rng.integers(0, 1 << 12, 20_000).astype(np.uint64) << np.uint64(52)
        f, r = _row_sets(flat, row, n)
        o = np.lexsort((flat, row))
        f_s, r_s = flat[o], row[o]
        keep = np.r_[True, (f_s[1:] != f_s[:-1]) | (r_s[1:] != r_s[:-1])]
        assert f.tolist() == f_s[keep].tolist() and r.tolist() == r_s[keep].tolist()


def test_text_jaccard_matches_set_reference():
    a = ["a quick brown fox jumps", "Straße am See", None, "short", "same text here"]
    b = ["a quick brown fox leaps", "STRASSE AM SEE", "x", "", "same text here"]
    udf = _make_text_jaccard_udf(CFG, normalized=False)
    got = np.asarray(udf.func(pa.array(a), pa.array(b))).tolist()
    want = []
    for s, t in zip(a, b):
        if s is None or t is None:
            want.append(0.0)
            continue
        x, y = (set(shingle_set_np(u, K).tolist()) for u in (s, t))
        want.append(len(x & y) / len(x | y))
    assert got == want and got[1] == 1.0 and got[4] == 1.0
    assert len(udf.func(pa.array([], pa.string()), pa.array([], pa.string()))) == 0


def test_pinned_buffer_digest():
    """SHA-256 over the minhash, bands and shingles buffers of the first 400
    generate_images captions.  Any byte drift in normalization, shingling,
    OPH, band interleave or band folding changes it."""
    caps = pa.array([_caption_for(i) for i in range(400)])
    out = signature_batch(caps, CFG, normalized=False, emit={"shingles", "minhash", "bands"})
    h = hashlib.sha256()
    for a in (
        out["minhash"].values,
        out["bands"].values,
        pa.array(np.diff(np.asarray(out["shingles"].offsets)).astype(np.int64)),
        out["shingles"].values,
    ):
        h.update(np.asarray(a, dtype=np.int64).tobytes())
    assert h.hexdigest() == "39b67212f8b10074bbfe1baf4e9feb9a01f7d266e17f6d19fa0362ebe1bbb55a"
