"""Unit tests: PNG codec + PSNR invariant (P14), image features, textops,
similarity search, LSH skew path, suffix-array cross-check."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.datagen import generate_images
from jsonschema_jl_spark.operators.multimodal import (
    decode_image,
    png_decode,
    png_encode,
    psnr,
    resize_pixels,
    with_image_features,
    with_resized,
    with_sampled_frames,
)
from jsonschema_jl_spark.operators.similarity import cosine_topk, lsh_ann_pairs
from jsonschema_jl_spark.operators.lsh import band_buckets, candidate_pairs
from jsonschema_jl_spark.operators.minhash import normalize_signatures_bands, normalize_udf, with_signatures
from jsonschema_jl_spark.operators.substring import containment_pairs, suffix_array_containment

CFG = DedupConfig()


# ---------------------------------------------------------------------------
# PNG codec + per-row invariant (P14, BASELINE.json:15)
# ---------------------------------------------------------------------------

def test_png_roundtrip():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(40, 57, 3), dtype=np.uint8)
    data = png_encode(px)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    back = png_decode(data)
    assert np.array_equal(px, back)
    assert psnr(px, back) == float("inf")


def test_webp_roundtrip_via_decode_image():
    from jsonschema_jl_spark.operators.vp8l import webp_encode

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
    data = webp_encode(px)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    back = decode_image(data, "webp")
    assert np.array_equal(px, back)  # VP8L is lossless


def test_lossy_webp_is_stubbed():
    import struct as _struct

    lossy = (
        b"RIFF" + _struct.pack("<I", 16) + b"WEBP" + b"VP8 " + _struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError):
        decode_image(lossy, "webp")


def test_truncated_jpeg_rejected():
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg", "jpeg")


def test_dup_rows_satisfy_pixel_invariant(spark):
    """Planted exact-dup rows: decoded pixels PSNR >= 40 dB (exact here,
    PNG is lossless) and caption equality vs the base row."""
    images = generate_images(spark, 100, CFG, with_malformed=False).toPandas()
    images = images.set_index("image_id")
    for i in range(100):
        if i % 20 == 15:
            a = images.loc[f"img{i - 1:012d}"]
            b = images.loc[f"img{i:012d}"]
            assert a["caption"] == b["caption"]
            pa = decode_image(bytes(a["bytes"]), a["fmt"])
            pb = decode_image(bytes(b["bytes"]), b["fmt"])
            assert psnr(pa, pb) >= 40.0


def test_with_image_features(spark):
    df = generate_images(spark, 40, CFG, with_malformed=False)
    out = with_image_features(df).select("image_id", "w", "h", "img_features.*").collect()
    assert len(out) == 40
    for r in out:
        assert r.decode_ok
        assert r.decoded_w == r.w and r.decoded_h == r.h
        assert 0 <= r.mean_r <= 255


def test_normalize_series_matches_scalar():
    """Vectorized batch normalizer == scalar normalize_text (shared by the
    oracle), including casefold expansion, final sigma, astral chars, and
    null passthrough; and normalization is idempotent (the pre-normalized
    pipeline contract relies on it)."""
    import pandas as pd
    from jsonschema_jl_spark.operators.minhash import normalize_series, normalize_text

    cases = ["  Hello   WORLD  ", "Straße ẞ", "été", "ＡＢＣ", "ﬁn", "İstanbul",
             "💩  x\t\ny", "", "a", None, "ΣΊΣΥΦΟΣ ΣΊΣΥΦΟΣ"]
    out = normalize_series(pd.Series(cases, dtype=object))
    for c, o in zip(cases, out):
        expect = normalize_text(c) if c is not None else None
        assert o == expect, (c, o, expect)
        if c is not None:
            assert normalize_text(expect) == expect


def test_resize_pixels_vectorized():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    small = resize_pixels(px, 12, 8)
    assert small.shape == (8, 12, 3)
    # nearest-neighbor: every output pixel exists in the input
    assert small[0, 0].tolist() == px[0, 0].tolist()


def test_with_resized(spark):
    df = generate_images(spark, 30, CFG, with_malformed=False)
    out = with_resized(df, 16, 16).select("image_id", "fmt", "resized.*").collect()
    assert len(out) == 30
    # datagen payloads all decode (png/jpeg/webp real codecs), so all rows
    # resize
    for r in out:
        assert r.resize_ok and r.w == 16 and r.h == 16
        assert decode_image(bytes(r.bytes), "png").shape == (16, 16, 3)


def test_with_resized_lossy_passthrough(spark):
    """A payload with no in-container codec passes through unchanged with
    resize_ok=false instead of failing the job."""
    df = spark.createDataFrame(
        [("x1", bytearray(b"\xff\xd8\xff\xe0 fake jpeg"), "jpeg")],
        "image_id string, bytes binary, fmt string",
    )
    r = with_resized(df, 16, 16).select("resized.*").collect()[0]
    assert not r.resize_ok and bytes(r.bytes) == b"\xff\xd8\xff\xe0 fake jpeg"


def test_with_sampled_frames(spark):
    df = generate_images(spark, 10, CFG, with_malformed=False)
    out = with_sampled_frames(df, every_n=2).select("image_id", "sampled.*").collect()
    assert len(out) == 10
    for r in out:
        assert len(r.frame_idx) == len(r.frames) >= 1
        assert r.frame_idx == sorted(r.frame_idx)
        assert all(i % 2 == 0 for i in r.frame_idx)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((30, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)], "vec_id long, embedding array<double>"
    )
    got = cosine_topk(df, k=2).orderBy("query_id", "rank").collect()
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    for q in range(30):
        expect = np.argsort(-np.round(sims[q], 6), kind="stable")[:2]
        rows = [r for r in got if r.query_id == q]
        assert [r.neighbor_id for r in rows] == list(expect)


def test_lsh_ann_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((50, 16))
    # plant 10 near-dup pairs (tiny perturbations)
    rows = []
    for i in range(50):
        rows.append((i, [float(x) for x in base[i]]))
    for j in range(10):
        v = base[j] + rng.standard_normal(16) * 0.01
        rows.append((100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = lsh_ann_pairs(df, dim=16, n_planes=8, n_tables=6, min_cos=0.99)
    got = {(r.src, r.dst) for r in pairs.collect()}
    planted = {(j, 100 + j) for j in range(10)}
    assert len(planted & got) >= 9  # >= 90% recall on planted near-dups


def test_ivf_topk_recall(spark):
    from jsonschema_jl_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    base = rng.standard_normal((120, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    # near-copies: their true top-1 is the base vector
    for j in range(30):
        v = base[j] + rng.standard_normal(16) * 0.005
        rows.append((1000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    near = df.filter(F.col("vec_id") >= 1000)
    top1 = ivf_topk(df, k=1, n_cells=8, nprobe=2, queries=near)
    hits = {r.query_id: r.neighbor_id for r in top1.collect()}
    assert all(hits[1000 + j] == j for j in range(30)), hits
    # exact-match sanity vs brute force on a random query slice
    qs = df.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(df, k=3, queries=qs).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(df, k=3, n_cells=8, nprobe=5, queries=qs).collect()}
    assert len(exact & approx) / len(exact) >= 0.6


# ---------------------------------------------------------------------------
# LSH skew path + suffix-array cross-check
# ---------------------------------------------------------------------------

def test_candidate_pairs_planted_hot_bucket(spark):
    """One 2,000-member bucket (1,999,000 pairs, more than PAIR_BUDGET) plus
    cold two-member buckets.  Uncapped, every pair comes out, the hot
    bucket's in at least two batches of at most PAIR_BUDGET; capped at 64,
    the hot bucket is dropped and its rows are counted."""
    import dataclasses

    import pyarrow as pa

    from jsonschema_jl_spark.operators.group_pairs import (
        NO_CAP, PAIR_BUDGET, bucket_emitter, pair_runs,
    )

    hot, cold = 2000, 600
    rows = spark.range(hot + cold).select(
        "id",
        F.array(F.when(F.col("id") < hot, F.lit(-1)).otherwise(F.col("id") / 2).cast("long"))
        .alias("bucket"),
    )
    hot_pairs, cold_pairs = hot * (hot - 1) // 2, cold // 2
    assert hot_pairs > PAIR_BUDGET

    uncapped = candidate_pairs(rows, dataclasses.replace(CFG, bucket_cap=NO_CAP))
    assert uncapped.count() == hot_pairs + cold_pairs

    pairs, skew = candidate_pairs(
        rows, dataclasses.replace(CFG, bucket_cap=64), with_metrics=True
    )
    assert pairs.count() == cold_pairs
    assert (skew.capped_buckets, skew.capped_rows) == (1, hot)

    # the same rows through the kernel alone: the hot bucket's pairs leave
    # in budget-sized batches, never as one quadratic array
    batch = pa.RecordBatch.from_pandas(rows.toPandas(), preserve_index=False)
    sizes = [b.num_rows for b in pair_runs([batch], ["bucket"], bucket_emitter, cap=NO_CAP)]
    assert sum(sizes) == hot_pairs + cold_pairs
    assert len(sizes) >= 2 and max(sizes) <= PAIR_BUDGET


@pytest.mark.parametrize(
    "shape", [None, {"num_perm": 128, "num_bands": 32, "rows_per_band": 4},
              {"num_perm": 64, "num_bands": 8, "rows_per_band": 8}]
)
def test_kernel_bands_pair_parity(spark, shape):
    """The fused kernel's band keys (normalize_signatures_bands, the
    pipeline hot path) must yield the SAME candidate pair set as the JVM
    slice+xxhash64 path over with_signatures' minhash of the same rows —
    the bucket hash is an internal join key; grouping semantics are by
    band content, so the two formulations may differ only by 64-bit hash
    collisions (none at test scale).  Parametrized over banding shapes
    so the (n, B, r) reshape/fold stays aligned with the JVM slicing.
    Through Spark, the fused kernel's band keys equal band_keys_np over
    with_signatures' minhash, and both equal signature_batch run locally
    on the collected captions."""
    import dataclasses

    import pyarrow as pa

    from jsonschema_jl_spark.operators.minhash import band_keys_np, signature_batch

    cfg = CFG if shape is None else dataclasses.replace(CFG, **shape)
    images = generate_images(spark, 400, cfg, with_bytes=False, with_malformed=False)
    slim = images.select("image_id", "caption", "phash")
    bands = normalize_signatures_bands(slim, cfg=cfg).select("image_id", "bands")
    sigs = with_signatures(slim, cfg=cfg, keep_shingles=False).join(bands, "image_id").persist()
    # the kernel's keys as the pipeline passes them: one list per row
    b_kernel = sigs.select(F.col("image_id").alias("id"), F.col("bands").alias("bucket"))
    b_jvm = band_buckets(sigs, sig_col="minhash", cfg=cfg)
    pk = {(r.src, r.dst) for r in candidate_pairs(b_kernel, cfg).collect()}
    pj = {(r.src, r.dst) for r in candidate_pairs(b_jvm, cfg).collect()}
    assert pk == pj and len(pk) > 0
    rows = sigs.select("caption", "minhash", "bands").collect()
    mh = np.array([r.minhash for r in rows], dtype=np.int64)
    assert len(rows) == 400
    assert band_keys_np(mh, cfg).tolist() == [r.bands for r in rows]
    local = signature_batch(
        pa.array([r.caption for r in rows]), cfg, normalized=False, emit={"minhash"}
    )
    assert local["minhash"].to_pylist() == mh.tolist()
    sigs.unpersist()


def test_band_keys_np_semantics():
    """Equal band slices -> equal keys; any differing lane -> different key
    (w.h.p.); band index salts the fold (same content in different bands
    must not collide into one bucket)."""
    import dataclasses
    import numpy as np
    from jsonschema_jl_spark.operators.minhash import band_keys_np

    cfg = dataclasses.replace(CFG, num_perm=16, num_bands=4, rows_per_band=4)
    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 62, size=(1, 16)).astype(np.int64)
    twin = base.copy()                      # identical row
    diff = base.copy(); diff[0, 5] ^= 1     # flip one lane of band 1
    keys = band_keys_np(np.vstack([base, twin, diff]), cfg)
    assert (keys[0] == keys[1]).all()
    assert keys[0][1] != keys[2][1]         # band 1 differs
    assert keys[0][0] == keys[2][0]         # band 0 untouched
    # same content placed in band 0 vs band 1 -> different keys (band salt)
    sym = np.tile(base[0, :4], 4)[None, :].astype(np.int64)
    ks = band_keys_np(sym, cfg)[0]
    assert len(set(ks.tolist())) == 4


def test_suffix_array_matches_anchor_join(spark):
    images = generate_images(spark, 300, CFG, with_bytes=False, with_malformed=False)
    slim = images.select("image_id", "caption", "phash")
    a = {(r.src, r.dst) for r in containment_pairs(slim, cfg=CFG).collect()}
    b = {(r.src, r.dst) for r in suffix_array_containment(slim, cfg=CFG).collect()}
    assert a == b
    assert len(a) > 0  # planted containment pairs exist


def test_wav_roundtrip_and_audio_features(spark):
    from jsonschema_jl_spark.operators.multimodal import (
        wav_encode, wav_decode, with_audio_features,
    )

    rng = np.random.default_rng(13)
    a = (rng.standard_normal(16000) * 3000).astype(np.int16)   # 1s mono
    b = (rng.standard_normal((8000, 2)) * 2000).astype(np.int16).reshape(-1)  # stereo
    wav_a = wav_encode(a, 16000, 1)
    wav_b = wav_encode(b, 8000, 2)
    s, sr, ch = wav_decode(wav_a)
    assert sr == 16000 and ch == 1 and np.array_equal(s.ravel(), a)

    df = spark.createDataFrame(
        [("x", wav_a, "wav"), ("y", wav_b, "wav"), ("z", b"\x00garbage", "mp3")],
        "id string, bytes binary, fmt string",
    )
    out = {r.id: r.audio_features for r in with_audio_features(df).collect()}
    assert out["x"].decode_ok and out["x"].sample_rate == 16000
    assert abs(out["x"].duration_s - 1.0) < 1e-9
    assert abs(out["x"].rms - float(np.sqrt(np.mean(a.astype(np.float64) ** 2)))) < 1e-6
    assert out["y"].channels == 2 and out["y"].n_samples == 8000
    assert not out["z"].decode_ok and out["z"].sample_rate is None


def test_simhash_batch_matches_native(spark):
    """The Arrow-batched vote kernel must be bit-identical to the 60-aggregate
    native expression (same JVM tokenization + md5 feed both)."""
    from jsonschema_jl_spark.operators.textops import simhash64, simhash64_batch

    rows = [
        ("a", "The quick brown fox jumps over the lazy dog"),
        ("b", "the quick  brown fox Jumps over the lazy dog!"),
        ("c", ""),
        ("d", "   "),
        ("e", "einzelwort"),
        ("f", None),
        ("g", "der die und das ist nicht ein mit für auf"),
        ("h", "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 8),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = (
        df.select(
            "id",
            simhash64(F.col("text")).alias("native"),
            simhash64_batch(F.col("text")).alias("batch"),
        )
        .collect()
    )
    for r in got:
        assert r.native == r.batch, f"simhash mismatch for id={r.id}"


def test_simhash_votes_kernel_edge_segments():
    """reduceat edge cases: empty rows at the start, middle, end, and the
    all-empty batch."""
    from jsonschema_jl_spark.operators.textops import _simhash_votes_kernel

    def ref(hs):
        sig = 0
        for b in range(60):
            votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if votes > 0:
                sig |= 1 << b
        return sig

    hs1 = [123456789012345, 987654321098765]
    hs2 = [(1 << 60) - 1]
    out = _simhash_votes_kernel([[], hs1, [], hs2, [], None])
    assert out[0] == 0 and out[2] == 0 and out[4] == 0
    assert out[1] == ref(hs1) and out[3] == ref(hs2)
    assert out[5] == 0  # NULL text -> 0, matching the native otherwise(0)
    out2 = _simhash_votes_kernel([[], []])
    assert out2[0] == 0 and out2[1] == 0


def _id_kinds(df, kind: str):
    """The id column as the detectors see it: xxhash64 longs (the pipeline's
    nid) or the raw strings."""
    ids = F.xxhash64("image_id") if kind == "long" else F.col("image_id")
    return df.withColumn("image_id", ids)


def _pair_set(df, cols=("src", "dst")) -> set:
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.mark.parametrize("kind", ["long", "string"])
def test_candidate_pairs_matches_jvm_reference(spark, kind):
    """The group-pairs kernel against the JVM formulation it replaced (size
    count, survivor join, collect_list, nested-transform expansion), with a
    bucket_cap that caps the 6-member caption groups and keeps the 5-member
    ones; the kernel's capped mass must equal a groupBy("bucket").count(),
    read after the pairs materialize."""
    import dataclasses

    cfg = dataclasses.replace(CFG, bucket_cap=5)
    texts = [(f"id{i:02d}", f"caption text shared prefix {i % 7}") for i in range(40)]
    texts += [(f"u{i:02d}", f"unique caption number {i} with its own words") for i in range(20)]
    df = _id_kinds(spark.createDataFrame(texts, "image_id string, caption string"), kind)
    sigs = with_signatures(df, cfg=cfg, keep_shingles=False)
    buckets = band_buckets(sigs, cfg=cfg).persist()
    pairs, skew = candidate_pairs(buckets, cfg, with_metrics=True)
    got = _pair_set(pairs)

    # reference: the pre-kernel one-exchange JVM shape, inline, over one
    # (id, bucket) row per band
    rows = buckets.select("id", F.explode("bucket").alias("bucket"))
    counts = rows.groupBy("bucket").count()
    ok = counts.filter((F.col("count") > 1) & (F.col("count") <= cfg.bucket_cap)).drop("count")
    grouped = rows.join(ok, "bucket").groupBy("bucket").agg(F.collect_list("id").alias("ids"))
    want = _pair_set(
        grouped.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)),"
            " y -> struct(least(x, y) AS src, greatest(x, y) AS dst))))"
        )).alias("p")).select("p.src", "p.dst").dropDuplicates(["src", "dst"])
    )
    capped = counts.filter(F.col("count") > cfg.bucket_cap).agg(
        F.count("*").alias("b"), F.sum("count").alias("r")
    ).collect()[0]
    assert got == want and len(got) > 0
    assert (skew.capped_buckets, skew.capped_rows) == (capped["b"], capped["r"])
    # the cap bit: buckets were capped and their pairs are gone
    assert capped["b"] > 0
    assert got < _pair_set(candidate_pairs(buckets, dataclasses.replace(cfg, bucket_cap=64)))
    buckets.unpersist()


def _phash_frame(spark, kind: str):
    """60 images whose phashes form clusters: exact repeats (degenerate
    blocks) and 1-7 bit variants of a few bases, plus random ones."""
    rng = np.random.default_rng(23)
    rows = []
    for c in range(6):
        base = int(rng.integers(-(1 << 63), (1 << 63) - 1))
        for j in range(8):
            flips = rng.choice(64, size=j % 8, replace=False)
            ph = base
            for bit in flips:
                ph ^= 1 << int(bit)
            ph = (ph + (1 << 63)) % (1 << 64) - (1 << 63)
            rows.append((f"img{c}_{j}", ph))
        rows.append((f"img{c}_rep", base))
    rows += [(f"rnd{i}", int(rng.integers(-(1 << 63), (1 << 63) - 1))) for i in range(6)]
    return _id_kinds(spark.createDataFrame(rows, "image_id string, phash long"), kind)


def _jvm_phash_blocks(df, cfg):
    """(id, ph, block, key): the r+1 pigeonhole blocks per row by native
    bit ops and a posexplode — the JVM formulation phash.block_rows
    replaced."""
    nblocks = cfg.hamming_radius + 1
    width = cfg.phash_bits // nblocks
    keys = []
    for i in range(nblocks):
        shift = i * width
        w = width if i < nblocks - 1 else cfg.phash_bits - shift
        keys.append(F.shiftrightunsigned(F.col("phash"), shift).bitwiseAND(F.lit((1 << w) - 1)))
    return df.select(
        F.col("image_id").alias("id"), F.col("phash").alias("ph"),
        F.posexplode(F.array(*keys)).alias("block", "key"),
    )


@pytest.mark.parametrize("kind", ["long", "string"])
@pytest.mark.parametrize("shape", [{"block_cap": 2}, {"hamming_radius": 6}])
def test_phash_pairs_matches_jvm_reference(spark, kind, shape):
    """phash_pairs against the JVM block-size count + collect_list
    expansion + bit_count verify it replaced, with a block cap that drops
    repeated phashes' blocks and at a wide radius (7 blocks of 9 bits)."""
    import dataclasses

    from jsonschema_jl_spark.operators.phash import phash_pairs

    cfg = dataclasses.replace(CFG, hamming_radius=shape.get("hamming_radius", CFG.hamming_radius))
    block_cap = shape.get("block_cap", 10_000)
    df = _phash_frame(spark, kind)
    got = _pair_set(phash_pairs(df, cfg=cfg, block_cap=block_cap), ("src", "dst", "hamming"))

    blocks = _jvm_phash_blocks(df, cfg)
    sizes = blocks.groupBy("block", "key").agg(F.count("*").alias("n"))
    ok = sizes.filter((F.col("n") > 1) & (F.col("n") <= block_cap)).drop("n")
    grouped = blocks.join(ok, ["block", "key"]).groupBy("block", "key").agg(
        F.collect_list(F.struct("id", "ph")).alias("ms")
    )
    want = _pair_set(
        grouped.select(F.col("ms"), F.posexplode("ms").alias("i", "x"))
        .select(F.explode(F.expr(
            "transform(slice(ms, i + 2, size(ms)), y -> struct("
            "least(x.id, y.id) AS src, greatest(x.id, y.id) AS dst,"
            " bit_count(x.ph ^ y.ph) AS hamming))"
        )).alias("p"))
        .select("p.src", "p.dst", "p.hamming")
        .filter(F.col("hamming") <= F.lit(cfg.hamming_radius))
        .dropDuplicates(["src", "dst"]),
        ("src", "dst", "hamming"),
    )
    assert got == want and len(got) > 0
    if "block_cap" in shape:
        # the cap bit: the uncapped pair set is strictly larger
        assert got < _pair_set(phash_pairs(df, cfg=cfg), ("src", "dst", "hamming"))


@pytest.mark.parametrize("kind", ["long", "string"])
def test_containment_pairs_matches_jvm_reference(spark, kind):
    """containment_pairs against the JVM anchor formulation it replaced
    (lambda-hashed probe/gram explodes, broadcast anti-join of hot anchors,
    SHUFFLE_HASH candidate join) at anchor_cap=3, which caps template
    phrases; the hash-verify and exact-confirm joins are shared."""
    images = generate_images(spark, 300, CFG, with_bytes=False, with_malformed=False)
    # six captions opening with one phrase make its leading anchor hot
    hot_rows = [(f"hot{k}", f"ubiquitous anchor phrase number {k} and more words") for k in range(6)]
    hot_rows.append(("hotprobe", "ubiquitous anchor phrase"))
    slim = _id_kinds(
        images.select("image_id", "caption")
        .unionByName(spark.createDataFrame(hot_rows, "image_id string, caption string")),
        kind,
    )
    got = _pair_set(containment_pairs(slim, cfg=CFG, anchor_cap=3))

    g, s = CFG.anchor_gram, CFG.anchor_stride
    base = slim.select(F.col("image_id").alias("id"), normalize_udf(F.col("caption")).alias("txt")).filter(
        F.length("txt") >= CFG.min_contained_len
    )
    probe = base.select(
        "id", F.length("txt").alias("len"), F.xxhash64("txt").alias("h1"),
        F.posexplode(F.expr(f"transform(sequence(1, {s}), i -> xxhash64(substr(txt, i, {g})))"))
        .alias("p0", "key"),
    ).withColumn("p", F.col("p0") + 1)
    grams = base.select(
        F.col("id").alias("id_b"), F.length("txt").alias("len_b"),
        F.posexplode(F.expr(
            f"transform(sequence(1, greatest(length(txt) - {g - 1}, 1), {s}),"
            f" i -> xxhash64(substr(txt, i, {g})))"
        )).alias("gpos", "key"),
    ).withColumn("pos_b", F.col("gpos") * s + 1)
    hot = grams.groupBy("key").count().filter(F.col("count") > 3).drop("count")
    cand = (
        probe.join(grams.join(F.broadcast(hot), "key", "left_anti"), "key")
        .withColumn("o", F.col("pos_b") - F.col("p") + 1)
        .filter((F.col("id") != F.col("id_b")) & (F.col("len") < F.col("len_b"))
                & (F.col("o") >= 1) & (F.col("o") + F.col("len") - 1 <= F.col("len_b")))
    )
    b = base.select(F.col("id").alias("id_b"), F.col("txt").alias("txt_b"))
    want = _pair_set(
        cand.join(b, "id_b").join(base, "id")
        .filter(F.expr("xxhash64(substring(txt_b, o, len))") == F.col("h1"))
        .filter(F.expr("substring(txt_b, o, len)") == F.col("txt"))
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    assert got == want and len(got) > 0
    # the cap bit: the phrase's containments are found only uncapped
    assert hot.count() > 0
    assert got < _pair_set(containment_pairs(slim, cfg=CFG))


def test_signs_kernel_parity_dim256(spark):
    """The Arrow matmul bucket-key kernel (large n_planes*dim path) must
    produce the same pair set as the native per-plane expression path at
    dim=256 — forced onto each path by flipping _NATIVE_SIGNS_MAX."""
    import jsonschema_jl_spark.operators.similarity as sim

    rng = np.random.default_rng(11)
    dim = 256
    base = rng.standard_normal((40, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    for j in range(8):
        v = base[j] + rng.standard_normal(dim) * 0.003
        rows.append((100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    saved = sim._NATIVE_SIGNS_MAX
    try:
        sim._NATIVE_SIGNS_MAX = 10 ** 9  # force native
        native = {
            (r.src, r.dst)
            for r in sim.lsh_ann_pairs(
                df, dim=dim, n_planes=10, n_tables=6, min_cos=0.99
            ).collect()
        }
        sim._NATIVE_SIGNS_MAX = 0  # force Arrow kernel
        kernel = {
            (r.src, r.dst)
            for r in sim.lsh_ann_pairs(
                df, dim=dim, n_planes=10, n_tables=6, min_cos=0.99
            ).collect()
        }
    finally:
        sim._NATIVE_SIGNS_MAX = saved
    assert native == kernel
    planted = {(j, 100 + j) for j in range(8)}
    assert len(planted & kernel) >= 7
    # the default threshold keeps small configs (10 planes x 256 = 2560
    # literals) native and routes big ones (e.g. 32 planes x 256) to the
    # kernel
    assert 10 * dim <= sim._NATIVE_SIGNS_MAX < 32 * dim


def test_signs_kernel_null_and_ragged_embeddings(spark):
    """Null / wrong-length embeddings must DEGRADE on the kernel path (row
    dropped, no pairs) exactly like the native path, not crash the matmul
    with a ragged array (regression: np.asarray over a batch containing
    None raised 'inhomogeneous shape').  Pair output must be identical to
    the same corpus with the bad rows filtered out."""
    import jsonschema_jl_spark.operators.similarity as sim

    rng = np.random.default_rng(23)
    dim = 64
    base = rng.standard_normal((20, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    for j in range(4):
        v = base[j] + rng.standard_normal(dim) * 0.003
        rows.append((100 + j, [float(x) for x in v]))
    bad = [(900, None), (901, [1.0, 2.0]), (902, [float("nan")] * dim)]
    df = spark.createDataFrame(
        rows + bad, "vec_id long, embedding array<float>"
    )
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    saved = sim._NATIVE_SIGNS_MAX
    try:
        sim._NATIVE_SIGNS_MAX = 0  # force the Arrow kernel
        got = {
            (r.src, r.dst)
            for r in sim.lsh_ann_pairs(
                df, dim=dim, n_planes=10, n_tables=4, min_cos=0.99
            ).collect()
        }
        want = {
            (r.src, r.dst)
            for r in sim.lsh_ann_pairs(
                clean, dim=dim, n_planes=10, n_tables=4, min_cos=0.99
            ).collect()
        }
    finally:
        sim._NATIVE_SIGNS_MAX = saved
    assert got == want
    assert not any(900 <= a or 900 <= b for a, b in got)


def test_lsh_ann_pairs_matches_self_join_shape(spark):
    """Pair-set parity of the group-pairs kernel against the classic bucket
    SELF-JOIN shape (vectors no longer cross the candidate-generation
    shuffle — ids pair first, vectors re-fetch narrowly for the cosine
    verify)."""
    import jsonschema_jl_spark.operators.similarity as sim

    rng = np.random.default_rng(47)
    dim = 48
    base = rng.standard_normal((60, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    for j in range(10):
        v = base[j] + rng.standard_normal(dim) * 0.003
        rows.append((300 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n_planes, n_tables, min_cos = 8, 4, 0.5

    got = {
        (r.src, r.dst, r.cos)
        for r in sim.lsh_ann_pairs(
            df, dim=dim, n_planes=n_planes, n_tables=n_tables, min_cos=min_cos
        ).collect()
    }

    # reference: the pre-round-5 two-sided membership self-join, inline
    keys = F.array(*[
        sim.signs_column(
            F.col("vec"), sim._hyperplanes(dim, n_planes, t, 4242)
        )
        for t in range(n_tables)
    ])
    ref_base = df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    exploded = ref_base.select("id", "vec", F.posexplode(keys).alias("table", "bucket"))
    sizes = exploded.groupBy("table", "bucket").agg(F.count("*").alias("n"))
    ok = sizes.filter((F.col("n") > 1) & (F.col("n") <= 2000)).drop("n")
    member = exploded.join(ok, ["table", "bucket"])
    a, b = member.alias("a"), member.alias("b")
    want = {
        (r.src, r.dst, r.cos)
        for r in a.join(b, ["table", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.round(sim.cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
        .dropDuplicates(["src", "dst"])
        .collect()
    }
    assert got == want and len(got) > 0


def test_pair_generators_skip_null_ids(spark):
    """A row with a null id pairs with nothing: every grouped generator
    returns what it returns without it (the pack drops the row before the
    exchange; the pairing kernel's id arrays would fail on it)."""
    from jsonschema_jl_spark.operators.phash import phash_pairs
    from jsonschema_jl_spark.operators.similarity import ngram_token_pairs

    docs = [(1, "a b c d"), (2, "a b c e"), (3, "x y z")]
    with_null = spark.createDataFrame(docs + [(None, "a b c d")], "doc_id long, text string")
    clean = spark.createDataFrame(docs, "doc_id long, text string")
    ngram = lambda df: set(ngram_token_pairs(df).collect())  # noqa: E731
    assert ngram(with_null) == ngram(clean) == {(1, 2, 1)}

    vecs = [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [-1.0, 0.5])]
    schema = "vec_id long, embedding array<double>"
    ann = lambda df: set(lsh_ann_pairs(df, dim=2, n_planes=2, n_tables=1, min_cos=0.9).collect())  # noqa: E731
    assert ann(spark.createDataFrame(vecs + [(None, [1.0, 0.0])], schema)) == ann(
        spark.createDataFrame(vecs, schema)
    ) == {(1, 2, 0.99995)}

    # three rows, one of them with a null id, for each pipeline detector
    buckets = spark.createDataFrame([(1, [7]), (2, [7]), (None, [7])], "id long, bucket array<long>")
    assert _pair_set(candidate_pairs(buckets, CFG)) == {(1, 2)}
    phashes = spark.createDataFrame([(1, 5), (2, 5), (None, 5)], "image_id long, phash long")
    assert _pair_set(phash_pairs(phashes, cfg=CFG), ("src", "dst", "hamming")) == {(1, 2, 0)}
    text = "a caption long enough to be contained"
    captions = spark.createDataFrame(
        [(1, text), (2, f"{text} and then some"), (None, text)], "image_id long, caption string"
    )
    assert _pair_set(containment_pairs(captions, cfg=CFG)) == {(1, 2)}


def test_ngram_token_pairs_skips_null_text(spark):
    """A null text has no grams, so null-text documents pair with nothing,
    as in the DuckDB oracle."""
    from jsonschema_jl_spark.operators.similarity import ngram_token_pairs

    docs = spark.createDataFrame([(1, None), (2, None), (3, "a b c d")], "doc_id long, text string")
    assert ngram_token_pairs(docs).collect() == []


def _plan_nodes(node):
    yield node
    for i in range(node.children().size()):
        yield from _plan_nodes(node.children().apply(i))


def _output_names(node) -> list[str]:
    attrs = node.output()
    return [attrs.apply(i).name() for i in range(attrs.size())]


def test_lsh_ann_pairs_no_vectors_in_candidate_shuffles(spark, monkeypatch):
    """The bucket rows must not carry the embedding column.  The rows the
    pack function builds are exactly (id, table, bucket) and its input
    holds no `vec`; in the physical plan the only Exchange below the
    pairing MapInArrow carries (part, block), so no vector can ride the
    candidate shuffle — only the verify joins above it touch vectors."""
    import jsonschema_jl_spark.operators.similarity as similarity

    packed = {}
    real = similarity.pair_groups

    def spy(df, rows, *args, **kwargs):
        packed.update(df=df, rows=rows)
        return real(df, rows, *args, **kwargs)

    monkeypatch.setattr(similarity, "pair_groups", spy)
    rng = np.random.default_rng(53)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_ann_pairs(df, dim=16, n_planes=6, n_tables=2)

    assert "vec" not in packed["df"].columns
    built = [packed["rows"](b) for b in packed["df"].toArrow().to_batches()]
    assert built and all(set(t.column_names) == {"id", "table", "bucket"} for t in built)
    assert sum(t.num_rows for t in built) == 20 * 2

    # with AQE on, the executed plan wraps the full physical plan (all
    # exchanges planned) as its initial plan until it runs
    plan = out._jdf.queryExecution().executedPlan().initialPlan()
    pairing = [
        n for n in _plan_nodes(plan)
        if n.nodeName() == "MapInArrow" and "Exchange" in n.children().apply(0).nodeName()
    ]
    assert len(pairing) == 1
    below = [n for n in _plan_nodes(pairing[0]) if "Exchange" in n.nodeName()]
    assert [_output_names(ex) for ex in below] == [["part", "block"]]


@pytest.mark.parametrize("par", [1, 8, 200, 4096])
def test_partition_codes_match_spark_hash(spark, par):
    """pmod(hash(code_p), par) == p through F.hash: the codes the pack
    writes land where Spark's HashPartitioning(par) sends them."""
    from jsonschema_jl_spark.operators.group_pairs import murmur3_int, partition_codes

    codes = partition_codes(par)
    df = spark.createDataFrame([(int(c),) for c in codes], "code int")
    got = df.select(F.hash("code").alias("h"), F.expr(f"pmod(hash(code), {par})").alias("p")).collect()
    assert [r.p for r in got] == list(range(par))
    assert [r.h for r in got] == murmur3_int(codes).tolist()


def test_packed_exchange_delivers_own_blocks(spark):
    """Each reduce task of a packed exchange receives only its own
    destination's blocks, and every row in them routes there."""
    import pyarrow as pa

    from jsonschema_jl_spark.operators.group_pairs import (
        destinations, pack_groups, partition_codes, same_rows, unpack,
    )

    par = 8
    rows = [(i, f"k{i % 37}", i % 11) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, s string, b long").repartition(5)
    packed = pack_groups(df, same_rows, ["s", "b"], num_partitions=par)
    got = packed.select("part", "block", F.spark_partition_id().alias("pid")).collect()
    codes = partition_codes(par)
    assert {r.pid for r in got} == set(range(par))
    seen = 0
    for r in got:
        assert r.part == codes[r.pid]
        block = pa.record_batch([pa.array([r.part], pa.int32()), pa.array([r.block], pa.binary())],
                                names=["part", "block"])
        table = pa.Table.from_batches(list(unpack([block])))
        assert (destinations(table, ["s", "b"], par) == r.pid).all()
        seen += table.num_rows
    assert seen == len(rows)


_WORDS = ["café", "Straße", "東京", "日本語の", "😀", "naïve", "🙂🙃", "GRÖSSE", "ñandú",
          "x", "data", "ΣΊΣΥΦΟΣ", "québec", "中文", "z"]


def _non_ascii_corpus(n: int = 240, seed: int = 17) -> list[tuple[str, str]]:
    """Word salads over 1- to 4-byte characters, plus slices and
    extensions of them, so many captions contain others."""
    rng = np.random.default_rng(seed)
    base = [" ".join(rng.choice(_WORDS, size=int(rng.integers(3, 14)))) for _ in range(n // 3)]
    docs = list(base)
    for t in base:
        a = int(rng.integers(0, max(1, len(t) // 3)))
        docs.append(t[a:a + int(rng.integers(12, len(t) + 8))])
        docs.append(" ".join(rng.choice(_WORDS, size=2)) + t + str(rng.choice(_WORDS)))
    return [(f"d{i:04d}", t) for i, t in enumerate(docs)]


def test_containment_pairs_non_ascii_matches_oracle(spark):
    """On text with é/ß, CJK and emoji, the byte-level anchors find exactly
    the pairs a pure-Python `a in b` over the normalized captions finds,
    and the character-level suffix-array cross-check agrees."""
    from jsonschema_jl_spark.operators.minhash import normalize_text

    docs = _non_ascii_corpus()
    norm = [(i, normalize_text(t)) for i, t in docs]
    long_enough = [(i, t) for i, t in norm if len(t) >= CFG.min_contained_len]
    want = {
        (i, j) for i, a in long_enough for j, b in long_enough
        if i != j and len(a) < len(b) and a in b
    }
    assert len(want) > 50
    assert any(len(a.encode()) != len(a) for _, a in long_enough)
    df = spark.createDataFrame(docs, "image_id string, caption string")
    assert _pair_set(containment_pairs(df, cfg=CFG)) == want
    assert _pair_set(suffix_array_containment(df, cfg=CFG)) == want


def test_xxhash64_string_equals_binary(spark):
    """containment's hash verify hashes container BYTES against h1 =
    xxhash64(text): Spark must hash a string and its binary cast alike."""
    texts = ["", "ascii", "café ß", "東京 日本語", "emoji 😀🙂", "\u0000nul"]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select(F.xxhash64("s").alias("a"), F.xxhash64(F.col("s").cast("binary")).alias("b")).collect()
    assert all(r.a == r.b for r in rows)
