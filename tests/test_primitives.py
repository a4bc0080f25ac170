"""Unit tests for the deterministic numpy primitives (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from gsearch_spark.codec import decode_image, encode_image, psnr
from gsearch_spark.hashing import (hash_bytes_windows, hash_u64,
                                   kgram_hashes_batch, splitmix64)
from gsearch_spark.minhash import minhash_batch, sketch_jaccard
from gsearch_spark.phash import phash64, phash_bit_shingles
from gsearch_spark.shingles import caption_shingles_batch, normalize_caption
from gsearch_spark.simhash import (hamming64, pixel_shingles, simhash64_batch)


def test_splitmix64_deterministic():
    x = np.arange(100, dtype=np.uint64)
    a, b = splitmix64(x), splitmix64(x)
    assert (a == b).all()
    assert len(np.unique(a)) == 100  # bijective on distinct inputs


def test_hash_u64_seed_sensitivity():
    x = np.arange(50, dtype=np.uint64)
    assert not (hash_u64(x, 1) == hash_u64(x, 2)).any()


def test_kgram_hashes_match_manual():
    h, r = kgram_hashes_batch([b"abcdef"], 3, seed=9)
    # windows: abc bcd cde def
    assert len(h) == 4 and (r == 0).all()
    buf = np.frombuffer(b"abcdef", dtype=np.uint8)
    manual = hash_bytes_windows(buf, np.arange(4), 3, seed=9)
    assert (h == manual).all()


def test_kgram_batch_equals_per_row():
    strs = [b"hello world", b"spark near dup", b"", b"ab"]
    h_all, r_all = kgram_hashes_batch(strs, 4, seed=3)
    for i, s in enumerate(strs):
        h_one, _ = kgram_hashes_batch([s], 4, seed=3)
        mine = h_all[r_all == i]
        assert (np.sort(mine) == np.sort(h_one)).all()


def test_codec_lossless_roundtrip():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (32, 48, 3)).astype(np.uint8)
    assert (decode_image(encode_image(px, "png")) == px).all()


def test_codec_lossy_psnr_regimes():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    hi = decode_image(encode_image(px, "jpeg", quality=92))
    lo = decode_image(encode_image(px, "jpeg", quality=40))
    assert psnr(px, hi) >= 40.0
    assert psnr(px, lo) < 40.0


def test_decode_unknown_magic_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nnot-a-real-decoder")


def test_superminhash_estimator_and_coupling():
    """SuperMinHash (algo=super/super2): slot-agreement estimates J;
    the two variants share the exact same agreement pattern (super2 is
    an integer re-hash of the winning slot value); chunking never
    changes the signature; empty sets share the common empty rule."""
    from gsearch_spark.minhash import (minhash_batch, sketch_jaccard,
                                       superminhash_batch)
    rng = np.random.default_rng(5)
    common = rng.integers(0, 2 ** 63, 120, dtype=np.uint64)
    a_only = rng.integers(0, 2 ** 63, 120, dtype=np.uint64)
    b_only = rng.integers(0, 2 ** 63, 120, dtype=np.uint64)
    hashes = np.concatenate([common, a_only, common, b_only])
    rows = np.repeat([0, 1], 240).astype(np.int64)
    sk_s = minhash_batch(hashes, rows, 2, 128, algo="super", seed=42)
    sk_2 = minhash_batch(hashes, rows, 2, 128, algo="super2", seed=42)
    j = sketch_jaccard(sk_s[0], sk_s[1])
    assert 0.18 < j < 0.5  # true J = 1/3
    assert ((sk_s[0] == sk_s[1]) == (sk_2[0] == sk_2[1])).all()
    assert (superminhash_batch(hashes, rows, 2, 128, seed=42, chunk=7)
            == superminhash_batch(hashes, rows, 2, 128, seed=42)).all()
    nil = np.array([], dtype=np.uint64)
    nilr = np.array([], dtype=np.int64)
    e_sup = minhash_batch(nil, nilr, 1, 128, algo="super", seed=42)
    e_opt = minhash_batch(nil, nilr, 1, 128, algo="optdens", seed=42)
    assert (e_sup == e_opt).all()


def test_superminhash_spark_oracle_bitexact(spark, small_fixture_dir):
    """algo=super through the Spark signature UDF == the numpy oracle,
    bit for bit (the same shared-code contract as optdens)."""
    import dataclasses
    import pyarrow.parquet as pq
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.operators.signatures import compute_signatures
    from gsearch_spark.oracle import oracle_minhash
    cfg = dataclasses.replace(PipelineConfig(), algo="super")
    rows = pq.read_table(
        f"{small_fixture_dir}/images.parquet").to_pylist()[:60]
    images = spark.createDataFrame(
        [(r["image_id"], r["bytes"], r["caption"], r["phash"])
         for r in rows],
        "image_id string, bytes binary, caption string, phash bigint")
    got = {r["image_id"]: np.array(r["minhash"], dtype=np.int64)
           for r in compute_signatures(images.repartition(5), cfg).collect()}
    ph = np.array([r["phash"] for r in rows], dtype=np.int64)
    want = oracle_minhash(ph, [r["caption"] for r in rows],
                          cfg).view(np.int64)
    for i, r in enumerate(rows):
        assert (got[r["image_id"]] == want[i]).all(), r["image_id"]


def test_streaming_pooled_decode_matches_full():
    """decode_pooled_gray (L2-resident streaming path) must agree with
    full-decode + _pool_to to float tolerance on every container/size,
    including the w<grid fallback and sizes not divisible by 16."""
    from gsearch_spark.codec import decode_pooled_gray, to_gray
    from gsearch_spark.phash import _pool_to
    rng = np.random.default_rng(7)
    for w, h, fmt, q in [(64, 48, "png", 92), (100, 63, "jpeg", 92),
                         (17, 16, "png", 92), (15, 40, "jpeg", 85),
                         (256, 192, "jpeg", 92)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        data = encode_image(px, fmt, quality=q)
        a = decode_pooled_gray(data)
        b = _pool_to(to_gray(decode_image(data)), 16)
        assert np.allclose(a, b, rtol=1e-12, atol=1e-9), (w, h, fmt)


def test_stream_and_memory_shingles_consistent():
    """pixel_shingles_stream quantizes the same tiles as the in-memory
    variant away from quantization boundaries (identical on random
    images with overwhelming probability)."""
    from gsearch_spark.simhash import pixel_shingles_stream
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, (96, 128, 3)).astype(np.uint8)
    data = encode_image(px, "png")
    assert (pixel_shingles_stream(data, seed=5)
            == pixel_shingles(decode_image(data), seed=5)).all()


def test_phash_stable_under_reencode():
    rng = np.random.default_rng(3)
    for _ in range(5):
        px = rng.integers(0, 256, (48, 48, 3)).astype(np.uint8)
        re = decode_image(encode_image(px, "jpeg", quality=92))
        h1, h2 = phash64(px), phash64(re)
        d = int(hamming64(np.array([h1]), np.array([h2]))[0])
        assert d <= 4


def test_phash_distinct_images_far():
    rng = np.random.default_rng(4)
    a = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    b = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    d = int(hamming64(np.array([phash64(a)]), np.array([phash64(b)]))[0])
    assert d >= 10


def test_phash_bit_shingles_shape():
    sh = phash_bit_shingles(np.array([123456789, -42], dtype=np.int64),
                            16, seed=5)
    assert sh.shape == (2, 49)
    assert len(np.unique(sh[0])) > 40  # position-tagged => mostly distinct


def test_minhash_jaccard_estimate():
    """MinHash slot-equality estimates Jaccard within MC error."""
    rng = np.random.default_rng(6)
    est = []
    for t in range(8):
        a = hash_u64(np.arange(2000, dtype=np.uint64), seed=100 + t)
        b = hash_u64(np.arange(1000, 3000, dtype=np.uint64), seed=100 + t)
        sk = minhash_batch(
            np.concatenate([a, b]),
            np.concatenate([np.zeros(2000, np.int64), np.ones(2000, np.int64)]),
            2, 128, "optdens", seed=42)
        est.append(sketch_jaccard(sk[0], sk[1]))
    mean = float(np.mean(est))  # true J = 1000/3000 = 1/3
    assert abs(mean - 1 / 3) < 0.06


def test_minhash_identical_sets_match():
    h = hash_u64(np.arange(500, dtype=np.uint64), seed=1)
    sk = minhash_batch(np.concatenate([h, h]),
                       np.concatenate([np.zeros(500, np.int64),
                                       np.ones(500, np.int64)]),
                       2, 128, "optdens", seed=42)
    assert (sk[0] == sk[1]).all()


def test_minhash_empty_set_deterministic():
    sk1 = minhash_batch(np.empty(0, np.uint64), np.empty(0, np.int64),
                        2, 128, "optdens", seed=42)
    assert (sk1[0] == sk1[1]).all()  # both empty => identical signature
    sk2 = minhash_batch(np.empty(0, np.uint64), np.empty(0, np.int64),
                        1, 128, "optdens", seed=42)
    assert (sk1[0] == sk2[0]).all()  # independent of batch shape


def test_minhash_revoptdens_differs():
    h = hash_u64(np.arange(10, dtype=np.uint64), seed=1)  # sparse => densify
    r = np.zeros(10, np.int64)
    a = minhash_batch(h, r, 1, 128, "optdens", seed=42)
    b = minhash_batch(h, r, 1, 128, "revoptdens", seed=42)
    assert not (a == b).all()
    # non-empty bins agree (densification rule differs, raw mins don't)
    bins = (h % np.uint64(128)).astype(np.int64)
    assert (a[0][bins] == b[0][bins]).all()


def test_simhash_near_vs_far():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    near = px.copy()
    idx = rng.choice(px.size, px.size // 50, replace=False)
    flat = near.reshape(-1)
    flat[idx] = np.clip(flat[idx].astype(np.int16) + 1, 0, 255).astype(np.uint8)
    far = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    sigs = simhash64_batch(np.stack([pixel_shingles(p, seed=1)
                                     for p in (px, near, far)]))
    d_near = int(hamming64(sigs[0:1], sigs[1:2])[0])
    d_far = int(hamming64(sigs[0:1], sigs[2:3])[0])
    assert d_near <= 3
    assert d_far >= 10


def test_normalize_caption():
    assert normalize_caption("  Hello   WORLD \n") == "hello world"
    assert normalize_caption(None) == ""
    assert normalize_caption("") == ""


def test_caption_shingles_case_invariant():
    h1, _ = caption_shingles_batch(["Hello World"], 5, seed=1)
    h2, _ = caption_shingles_batch(["hello   world"], 5, seed=1)
    assert (np.sort(h1) == np.sort(h2)).all()


def test_prob_minhash_weighted_jaccard_estimate():
    """algo='prob' estimates the INTEGER-WEIGHTED Jaccard: multisets
    {x: 2 for x in A} vs {x: 1 for x in A} have J_w = 1/2 but J_set = 1 —
    the set algos see them as identical, prob must not."""
    from gsearch_spark.minhash import minhash_batch, sketch_jaccard
    h = hash_u64(np.arange(2000, dtype=np.uint64), seed=3)
    # row 0: every element twice; row 1: every element once
    hashes = np.concatenate([h, h, h])
    rows = np.concatenate([np.zeros(4000, np.int64), np.ones(2000, np.int64)])
    sk_set = minhash_batch(hashes, rows, 2, 128, "optdens", seed=42)
    assert sketch_jaccard(sk_set[0], sk_set[1]) == 1.0  # blind to weights
    ests = []
    for t in range(8):
        ht = hash_u64(np.arange(2000, dtype=np.uint64), seed=300 + t)
        hs = np.concatenate([ht, ht, ht])
        sk = minhash_batch(hs, rows, 2, 128, "prob", seed=42)
        ests.append(sketch_jaccard(sk[0], sk[1]))
    assert abs(float(np.mean(ests)) - 0.5) < 0.06


def test_prob_minhash_bitexact_vs_naive_expansion():
    """The vectorized occurrence-numbering path == a per-row dict-based
    expansion fed through the same set sketcher (the prob contract)."""
    from gsearch_spark.hashing import hash_pair_u64
    from gsearch_spark.minhash import minhash_batch
    rng = np.random.default_rng(11)
    hashes = hash_u64(rng.integers(0, 50, 400).astype(np.uint64), seed=9)
    rows = np.sort(rng.integers(0, 3, 400)).astype(np.int64)
    got = minhash_batch(hashes, rows, 3, 64, "prob", seed=42)

    tok_list, row_list = [], []
    for r in range(3):
        seen: "dict[int, int]" = {}
        for hv in hashes[rows == r]:
            j = seen.get(int(hv), 0)
            seen[int(hv)] = j + 1
            tok_list.append(hash_pair_u64(
                np.array([hv], np.uint64), np.array([j], np.uint64),
                seed=42 ^ 0x9B0B)[0])
            row_list.append(r)
    want = minhash_batch(np.array(tok_list, np.uint64),
                         np.array(row_list, np.int64), 3, 64,
                         "optdens", seed=42)
    assert (got == want).all()


def test_prob_minhash_order_invariant():
    """Multiset sketch must not depend on the arrival order of hashes."""
    from gsearch_spark.minhash import minhash_batch
    rng = np.random.default_rng(13)
    hashes = hash_u64(rng.integers(0, 30, 200).astype(np.uint64), seed=8)
    rows = rng.integers(0, 2, 200).astype(np.int64)
    a = minhash_batch(hashes, rows, 2, 64, "prob", seed=42)
    perm = rng.permutation(200)
    b = minhash_batch(hashes[perm], rows[perm], 2, 64, "prob", seed=42)
    assert (a == b).all()


def test_stream_encoder_matches_one_shot_encode():
    """StreamEncoder's load-bearing determinism claim (codec.py): feeding
    row bands top-to-bottom yields BYTE-IDENTICAL output to one-shot
    encode_image — header, quantization and the deflate stream alike."""
    from gsearch_spark.codec import StreamEncoder
    rng = np.random.default_rng(7)
    for fmt, q in (("png", 92), ("jpeg", 92), ("jpeg", 70)):
        for h, w in ((40, 56), (33, 17), (64, 64)):
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            enc = StreamEncoder(w, h, fmt, quality=q)
            for r0 in range(0, h, 16):
                enc.feed_quantized(enc.quantize(px[r0:r0 + 16]))
            assert enc.finish() == encode_image(px, fmt, quality=q), \
                (fmt, q, h, w)


def test_pooled_gray_accumulator_matches_pool_to():
    """PooledGrayAccumulator band-fed pooling == phash._pool_to over the
    full luma plane (same integer bin edges + area division; only the
    float64 summation order differs -> allclose, not equality)."""
    from gsearch_spark.codec import PooledGrayAccumulator, to_gray
    from gsearch_spark.phash import _pool_to
    rng = np.random.default_rng(11)
    for grid in (16, 32):
        for h, w in ((40, 56), (37, 41), (64, 64)):
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            pool = PooledGrayAccumulator(w, h, grid=grid)
            for r0 in range(0, h, 16):
                pool.feed(r0, px[r0:r0 + 16])
            assert np.allclose(pool.result(),
                               _pool_to(to_gray(px), grid)), (grid, h, w)


@pytest.fixture(scope="module")
def fixture_signatures(spark, small_fixture_dir):
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.operators.signatures import compute_signatures
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    return compute_signatures(images, PipelineConfig()).localCheckpoint()


# Golden digests of explode_all_bands over the 375 fixture signatures,
# taken from the Column-object builder it replaced: the row count and
# bit_xor(xxhash64(band_id, band_hash, image_id)).  Stored bands tables
# are probed with freshly exploded bands (add, request), so a change to
# any band id, hash argument or literal type breaks every existing
# build — these must never be re-pinned to make a change pass.
@pytest.mark.parametrize("overrides, n_rows, digest", [
    ({}, 10_853, 3240373642542513294),
    ({"phash_chunks": 8, "phash_combo": 4}, 34_853, -4161924761124048039),
    ({"bands": 32, "rows_per_band": 4, "simhash_bands": 8}, 25_103,
     3308525796958238142),
], ids=["default", "phash8x4", "bands32x4_simhash8"])
def test_band_rows_match_golden_digest(fixture_signatures, overrides,
                                       n_rows, digest):
    import dataclasses
    from pyspark.sql import functions as F
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.operators.banding import explode_all_bands
    cfg = dataclasses.replace(PipelineConfig(), **overrides)
    bands = explode_all_bands(fixture_signatures, cfg)
    assert bands.schema.simpleString() == \
        "struct<band_id:int,band_hash:bigint,image_id:string>"
    got = bands.agg(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("band_id", "band_hash",
                                         "image_id")).alias("x")).first()
    assert (got["n"], got["x"]) == (n_rows, digest)
