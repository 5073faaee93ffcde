"""Image perceptual-hash dedup (llm/multimodal.py: image_phash /
phash_dedup / phash_near_dup_pairs) — the image twin of the text dedup
family. The exact-collision + oracle path is driver-graded
(dedup_image_phash); these tests pin the NEAR-duplicate semantics the
oracle can't express: small-edit images land at small Hamming distance
and pair up via the band join, unrelated images don't, and poison-pill
rows survive."""

from __future__ import annotations

import numpy as np
import pytest

from turbine_maintenance_etl_spark.llm.multimodal import (
    ahash_int,
    dhash_int,
    decode_png_pixels,
    encode_png,
    grayscale_int,
    image_phash,
    phash_dedup,
    phash_near_dup_pairs,
)


def _smooth_image(seed: int, h: int = 32, w: int = 36) -> np.ndarray:
    """Natural-image stand-in: smooth 2D gradient + mild seeded texture
    (dHash is designed for smooth images; pure noise is out of scope)."""
    rng = np.random.default_rng(seed)
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    k1, k2 = int(rng.integers(-9, 10)), int(rng.integers(-9, 10))
    amp, period, phase = (
        float(rng.uniform(20, 60)),
        float(rng.uniform(2.0, 6.0)),
        float(rng.uniform(0, 6.28)),
    )
    base = (
        r * k1 + c * k2 + amp * np.sin(c / period + phase) + amp * np.cos(r / period)
    ).astype(np.int64)
    tex = rng.integers(-2, 3, size=(h, w))
    return np.clip(base % 200 + 20 + tex, 0, 255).astype(np.uint8)[:, :, None]


def _hashes(px: np.ndarray) -> tuple[int, int]:
    gray = grayscale_int(decode_png_pixels(encode_png(px)))
    return dhash_int(gray), ahash_int(gray)


def test_brightness_shift_is_hash_invariant():
    """Uniform brightness change (the classic re-encode artifact): same
    dHash AND aHash, while the raw bytes differ — exactly what makes a
    perceptual hash a dedup key where sha256 is not."""
    a = _smooth_image(1)
    b = np.clip(a.astype(np.int64) + 7, 0, 255).astype(np.uint8)
    assert not np.array_equal(a, b)
    assert _hashes(a) == _hashes(b)


def test_small_edit_small_hamming_unrelated_large():
    a = _smooth_image(2)
    edited = a.copy()
    edited[4:7, 5:8, 0] = 255  # local splotch: a few resized cells change
    other = _smooth_image(99, h=32, w=36)
    da, _ = _hashes(a)
    de, _ = _hashes(edited)
    do, _ = _hashes(other)
    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    assert ham(da, de) <= 6
    assert ham(da, do) > 6


def test_near_dup_pairs_and_poison_pills(spark):
    """End-to-end through Spark: the banded Hamming join pairs the
    edited near-duplicate with its source, skips the unrelated image,
    and a corrupt payload degrades to NULL hashes + err (kept as its
    own survivor by phash_dedup)."""
    a = _smooth_image(3)
    edited = a.copy()
    edited[10:12, 20:23, 0] = 0
    rows = [
        (1, bytearray(encode_png(a))),
        (2, bytearray(encode_png(edited))),
        (3, bytearray(encode_png(_smooth_image(77)))),
        (4, bytearray(b"not a png at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    ph = image_phash(df)
    rows_out = {r["doc_id"]: r for r in ph.collect()}
    assert rows_out[4]["dhash"] is None and rows_out[4]["err"] is not None
    assert rows_out[1]["err"] is None

    pairs = {
        (r["id_a"], r["id_b"])
        for r in phash_near_dup_pairs(ph, max_hamming=6).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs

    surv = {r["doc_id"]: r["survivor"] for r in phash_dedup(ph).collect()}
    assert surv[4] is True  # poison pill passes through


def test_phash_dedup_collapses_exact_collisions(spark):
    """Brightness variants collide on dHash -> one survivor (min id);
    the distinct image survives alone."""
    a = _smooth_image(5)
    b = np.clip(a.astype(np.int64) + 5, 0, 255).astype(np.uint8)
    rows = [
        (10, bytearray(encode_png(a))),
        (11, bytearray(encode_png(b))),
        (12, bytearray(encode_png(_smooth_image(50)))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r["survivor"] for r in phash_dedup(image_phash(df)).collect()}
    assert out == {10: True, 11: False, 12: True}


@pytest.mark.parametrize("h,w", [(16, 18), (40, 24), (9, 8)])
def test_resize_identity_and_bit_width(h, w):
    """Hashes fit in 56 bits for any input geometry, including inputs
    already at or below hash resolution."""
    px = _smooth_image(7, h=h, w=w)
    d, a = _hashes(px)
    assert 0 <= d < (1 << 56) and 0 <= a < (1 << 56)


# --- audio fingerprint + video frame signatures (round-5 family) ----------


def _sine_wav(seed: int, gain: float = 0.5, n: int = 800) -> bytes:
    from turbine_maintenance_etl_spark.llm.multimodal import encode_wav

    rng = np.random.default_rng(seed)
    t = np.arange(n) / 16000.0
    f1, f2 = rng.uniform(100, 800, 2)
    x = gain * (0.6 * np.sin(2 * np.pi * f1 * t) + 0.4 * np.sin(2 * np.pi * f2 * t))
    # amplitude ramp so the envelope has real shape (not flat)
    x = x * np.linspace(0.2, 1.0, n)
    return encode_wav(x.astype(np.float32)[:, None], 16000)


def test_audio_fingerprint_gain_invariance_and_separation(spark):
    """Same signal at different gain -> same fingerprint (different
    bytes); structurally different signals -> different fingerprints;
    corrupt payload -> NULL + err."""
    from turbine_maintenance_etl_spark.llm.multimodal import audio_fingerprint

    rows = [
        (1, bytearray(_sine_wav(1, gain=0.4))),
        (2, bytearray(_sine_wav(1, gain=0.8))),   # exact 2x gain twin
        (3, bytearray(_sine_wav(9, gain=0.5))),   # different signal
        (4, bytearray(b"RIFFgarbage")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in audio_fingerprint(df).collect()}
    assert out[1]["afp"] == out[2]["afp"] != out[3]["afp"]
    assert out[4]["afp"] is None and out[4]["err"] is not None
    assert out[1]["n_frames"] == 800 and out[1]["sample_rate"] == 16000


def test_audio_fingerprint_empty_audio():
    from turbine_maintenance_etl_spark.llm.multimodal import (
        audio_envelope_fingerprint_int,
    )

    assert audio_envelope_fingerprint_int(np.zeros((0, 1), np.float32)) == 0


def test_video_frame_signatures_collapse_and_distinguish(spark):
    """Brightness-shifted frame-twin videos collide on the signature
    (min-id survivor); a video with one different frame does not; a
    video with a corrupt frame keeps a distinct signature (NULL slot
    preserved, never collapsed)."""
    from turbine_maintenance_etl_spark.llm.multimodal import (
        encode_png,
        video_frame_signatures,
    )

    def frame(g, fi, shift=0):
        r = np.arange(16)[:, None]
        c = np.arange(18)[None, :]
        px = ((g * 41 + fi * 13 + r * 11 + c * 7) % 250 + shift).astype(np.uint8)
        return bytearray(encode_png(px[:, :, None]))

    rows = []
    for fi in range(6):
        rows.append((10, fi, frame(1, fi)))
        rows.append((11, fi, frame(1, fi, shift=3)))       # brightness twin
        rows.append((12, fi, frame(1, fi) if fi else frame(7, 0)))  # frame 0 differs
        rows.append((13, fi, frame(1, fi) if fi != 2 else bytearray(b"bad")))
    df = spark.createDataFrame(rows, "video_id long, frame_idx long, media binary")
    out = {r["video_id"]: r for r in video_frame_signatures(df, every_nth=2).collect()}
    assert out[10]["sig"] == out[11]["sig"]
    assert out[10]["survivor"] and not out[11]["survivor"]
    assert out[12]["sig"] != out[10]["sig"]  # sampled frame 0 differs
    assert out[13]["sig"] != out[10]["sig"]  # corrupt frame 2 (sampled) -> NULL slot
    assert all(r["n_frames_sampled"] == 3 for r in out.values())


def test_video_signature_survives_large_ids_and_deep_frames(spark):
    """The (video, frame) key must be total: 64-bit content ids and
    frame_idx >= 2^20 previously overflowed/bled through an arithmetic
    pack into the NEXT video's keyspace, merging distinct videos."""
    from turbine_maintenance_etl_spark.llm.multimodal import (
        encode_png,
        video_frame_signatures,
    )

    # distinct GRADIENT patterns (constant images share a dHash of 0 —
    # the hash is gradient-based, so brightness alone cannot differ)
    ramp = np.tile(np.arange(0, 64, 8, dtype=np.uint8), (8, 1))
    img_a = encode_png(np.stack([ramp] * 3, axis=-1))
    img_b = encode_png(np.stack([ramp.T] * 3, axis=-1))
    big_a = (1 << 53) + 17          # far past the 2^43 overflow horizon
    big_b = (1 << 53) + 18
    deep = 1 << 21                  # frame_idx past the 2^20 bleed point
    frames = spark.createDataFrame(
        [
            (big_a, 0, img_a), (big_a, deep, img_a),
            (big_b, 0, img_b), (big_b, deep, img_b),
        ],
        "video_id long, frame_idx long, media binary",
    )
    out = {
        r["video_id"]: (r["n_frames_sampled"], r["sig"], r["survivor"])
        for r in video_frame_signatures(frames, every_nth=1).collect()
    }
    assert set(out) == {big_a, big_b}          # no cross-video bleed
    assert out[big_a][0] == 2 and out[big_b][0] == 2
    assert out[big_a][1] != out[big_b][1]      # different content, different sig
    assert out[big_a][2] and out[big_b][2]


def test_phash_near_dup_pairs_guards(spark):
    """Pigeonhole precondition enforced; over-cap band buckets are
    dropped instead of going quadratic."""
    import pytest

    from turbine_maintenance_etl_spark.llm.multimodal import phash_near_dup_pairs

    ph = spark.createDataFrame(
        [(i, 0) for i in range(20)], "doc_id long, dhash long"
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(ph, max_hamming=7, n_bands=7)
    # 20 identical all-zero hashes: capped at 10 → no pairs emitted
    assert phash_near_dup_pairs(ph, max_bucket_size=10).count() == 0
    # cap lifted: full pair set
    assert phash_near_dup_pairs(ph, max_bucket_size=None).count() == 20 * 19 // 2


def test_extract_image_features_poison_pill_real_decoder(spark):
    """One corrupt row under the REAL decoder reads as NULL metadata
    instead of failing the task (and the whole job) four times."""
    from turbine_maintenance_etl_spark.llm.multimodal import (
        encode_png,
        extract_image_features,
    )

    ok = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, ok), (2, b"\x89PNG\r\n\x1a\ntruncated"), (3, b"JFIF-not-png")],
        "doc_id long, media binary",
    )
    got = {
        r["doc_id"]: (r["width"], r["n_bytes"])
        for r in extract_image_features(df).collect()
    }
    assert got[1][0] == 4
    assert got[2][0] is None and got[2][1] > 0
    assert got[3][0] is None


def test_pill_row_leaves_batch_neighbour_hashes_exact(spark):
    """A pill row's NULL hash must not turn its batch's BIGINT hash
    column into float64: 56-bit hashes above 2**53 would round, so a
    healthy image's hash would depend on what shares its batch."""
    rng = np.random.default_rng(0)
    imgs = [encode_png(rng.integers(0, 256, (16, 18, 1), dtype=np.uint8)) for _ in range(8)]
    schema = "doc_id long, media binary"
    alone = spark.createDataFrame(list(enumerate(imgs)), schema).coalesce(1)
    mixed = spark.createDataFrame(list(enumerate(imgs)) + [(99, b"bad")], schema).coalesce(1)
    want = {r["doc_id"]: (r["dhash"], r["ahash"]) for r in image_phash(alone).collect()}
    got = {r["doc_id"]: (r["dhash"], r["ahash"]) for r in image_phash(mixed).collect()}
    assert any(d > 1 << 53 for d, _ in want.values())
    assert got.pop(99) == (None, None)
    assert got == want
    gray = [grayscale_int(decode_png_pixels(b)) for b in imgs]
    assert want == {i: (dhash_int(g), ahash_int(g)) for i, g in enumerate(gray)}
