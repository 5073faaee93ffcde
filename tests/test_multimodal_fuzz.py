"""Corrupted-stream fuzzing for the multimodal dispatch (r9 verdict
item 5): a 100 TB corpus pass WILL meet truncated and bit-flipped
media, and every decode operator pills a row only for the shared catch
tuple ``multimodal._CORRUPT_MEDIA`` (ValueError, NotImplementedError,
struct.error, zlib.error) — any other exception type escaping a codec
kills the executor task, and an unbounded loop or allocation hangs it.
Hypothesis drives random truncations, byte flips, slice replacements
and garbage appends over every codec family's valid fixtures, and one
Spark test per decode operator runs a corrupted corpus end-to-end,
asserting every row survives as data-or-tagged-NULL."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from turbine_maintenance_etl_spark.llm.multimodal import (
    decode_image_pixels,
    decode_wav_samples,
    encode_wav,
)
from turbine_maintenance_etl_spark.llm.jpeg import (
    encode_jpeg_baseline,
    encode_jpeg_lossless,
    encode_jpeg_progressive,
)
from turbine_maintenance_etl_spark.llm.jpeg_arith import encode_jpeg_arith
from turbine_maintenance_etl_spark.llm.png import encode_png_extended
from turbine_maintenance_etl_spark.llm.gif import encode_gif
from turbine_maintenance_etl_spark.llm.g711 import encode_wav_g711
from turbine_maintenance_etl_spark.llm.adpcm import (
    encode_wav_adpcm,
    encode_wav_ms_adpcm,
)

# exception types each decoder may raise for corrupt input, all inside
# multimodal._CORRUPT_MEDIA — anything else escaping a decoder is an
# executor-crash vector
IMAGE_PILL = (ValueError, NotImplementedError, struct.error, zlib.error)
AUDIO_PILL = (ValueError, NotImplementedError, struct.error)


def _image_blobs() -> list[bytes]:
    rng = np.random.default_rng(1234)
    px = rng.integers(0, 256, (16, 20, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (12, 14), dtype=np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (10, 11), dtype=np.uint8)
    return [
        encode_jpeg_baseline(px, quality=85),
        encode_jpeg_baseline(px, quality=85, restart_interval=2),
        encode_jpeg_progressive(px, quality=80),
        encode_jpeg_progressive(px, quality=80, restart_interval=3),
        encode_jpeg_lossless(gray[:, :, None], 8, 4, 0, 3),
        encode_jpeg_arith(px, quality=85),
        encode_png_extended(px),
        encode_png_extended(idx, depth=8, color=3, palette=pal),
        encode_png_extended(gray, depth=8, color=0, interlace=1),
        encode_gif([idx], pal),
        encode_gif([idx, idx[::-1]], pal, interlace=True, transparent=2),
    ]


def _audio_blobs() -> list[bytes]:
    rng = np.random.default_rng(99)
    mono = (rng.standard_normal((600, 1)) * 0.4).clip(-1, 1).astype(np.float32)
    stereo = (rng.standard_normal((400, 2)) * 0.3).clip(-1, 1).astype(np.float32)
    return [
        encode_wav(mono, 8000),
        encode_wav_g711(mono, 8000, ulaw=True),
        encode_wav_g711(stereo, 8000, ulaw=False),
        encode_wav_adpcm(mono, 8000),
        encode_wav_ms_adpcm(stereo, 8000),
    ]


IMAGE_BLOBS = _image_blobs()
AUDIO_BLOBS = _audio_blobs()


def _corrupt(data: bytes, mode: int, rng: np.random.Generator) -> bytes:
    """One deterministic corruption of a valid blob."""
    buf = bytearray(data)
    n = len(buf)
    if mode == 0:  # truncate anywhere (including inside the header)
        return bytes(buf[: int(rng.integers(0, n))])
    if mode == 1:  # flip 1-8 random bytes
        for _ in range(int(rng.integers(1, 9))):
            i = int(rng.integers(0, n))
            buf[i] ^= int(rng.integers(1, 256))
        return bytes(buf)
    if mode == 2:  # replace a random slice with random bytes
        a = int(rng.integers(0, n))
        b = min(n, a + int(rng.integers(1, 64)))
        buf[a:b] = rng.integers(0, 256, b - a, dtype=np.uint8).tobytes()
        return bytes(buf)
    # append garbage after the valid stream
    return bytes(buf) + rng.integers(0, 256, 32, dtype=np.uint8).tobytes()


@settings(max_examples=400, deadline=3000)
@given(
    blob_i=st.integers(0, len(IMAGE_BLOBS) - 1),
    mode=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_corrupted_image_streams_never_escape_the_pill(blob_i, mode, seed):
    rng = np.random.default_rng(seed)
    data = _corrupt(IMAGE_BLOBS[blob_i], mode, rng)
    try:
        px = decode_image_pixels(data)
        assert isinstance(px, np.ndarray) and px.dtype == np.uint8
    except IMAGE_PILL:
        pass  # tagged poison-pill row — the contract


@settings(max_examples=300, deadline=3000)
@given(
    blob_i=st.integers(0, len(AUDIO_BLOBS) - 1),
    mode=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_corrupted_audio_streams_never_escape_the_pill(blob_i, mode, seed):
    rng = np.random.default_rng(seed)
    data = _corrupt(AUDIO_BLOBS[blob_i], mode, rng)
    try:
        samples, rate = decode_wav_samples(data)
        assert samples.ndim == 2 and rate > 0
    except AUDIO_PILL:
        pass


@settings(max_examples=150, deadline=3000)
@given(data=st.binary(min_size=0, max_size=512))
def test_arbitrary_bytes_never_escape_the_pill(data):
    """Pure garbage (not derived from any valid stream) through both
    dispatchers — headers assembled by chance must still pill cleanly."""
    try:
        decode_image_pixels(data)
    except IMAGE_PILL:
        pass
    try:
        decode_wav_samples(data)
    except AUDIO_PILL:
        pass


def _corrupted_corpus(blobs: list[bytes]) -> list[tuple[int, bytearray]]:
    """Each valid blob (ids divisible by 5) followed by its four
    corruptions, one per _corrupt mode."""
    rng = np.random.default_rng(7)
    rows = []
    for blob in blobs:
        rows.append((len(rows), bytearray(blob)))
        for mode in range(4):
            rows.append((len(rows), bytearray(_corrupt(blob, mode, rng))))
    return rows


# operator -> (corpus, id column, data columns, err column or None)
_OPERATORS = {
    "extract_image_features": ("IMAGE", "doc_id", ["width", "height", "channels"], None),
    "resize_images": ("IMAGE", "doc_id", ["resized", "out_width", "channels"], "err"),
    "image_phash": ("IMAGE", "doc_id", ["dhash", "ahash", "width"], "err"),
    "extract_audio_features": ("AUDIO", "doc_id", ["sample_rate", "rms", "peak"], None),
    "resample_audio": ("AUDIO", "doc_id", ["resampled", "out_rate", "n_frames"], "err"),
    "audio_fingerprint": ("AUDIO", "doc_id", ["afp", "n_frames"], "err"),
    "explode_avi_frames": ("AVI", "video_id", ["frame_idx", "media"], "err"),
}


@pytest.mark.parametrize("op", sorted(_OPERATORS))
def test_corrupted_corpus_survives_spark_operators(spark, op):
    """End-to-end: a mixed valid/corrupted media corpus through each
    REAL Arrow-batched decode operator — every input row comes back
    (one output row, or for AVI its frames or one pill row), each
    output row carries data or an error tag, never both and never
    neither, and every pristine blob decodes."""
    from turbine_maintenance_etl_spark.llm import avi, multimodal

    kind, id_col, data_cols, err_col = _OPERATORS[op]
    blobs = {"IMAGE": IMAGE_BLOBS, "AUDIO": AUDIO_BLOBS, "AVI": AVI_BLOBS}[kind]
    rows = _corrupted_corpus(blobs)
    fn = getattr(avi if kind == "AVI" else multimodal, op)
    args = (8, 8) if op == "resize_images" else ()
    df = spark.createDataFrame(rows, f"{id_col} bigint, media binary")
    out = fn(df, *args, id_col=id_col).toPandas()

    has_data = out[data_cols].notna()
    # a row's data columns are all set or all NULL
    assert (has_data.all(axis=1) | ~has_data.any(axis=1)).all()
    decoded = has_data.all(axis=1)
    if err_col is not None:
        assert (decoded ^ out[err_col].notna()).all()
    per_id = out.groupby(id_col).size()
    assert sorted(per_id.index) == [r[0] for r in rows]
    if kind == "AVI":
        # a pill row stands alone; decoded rows are numbered frames
        pills = out[~decoded]
        assert (per_id[pills[id_col]] == 1).all()
        frames = out[decoded].groupby(id_col)["frame_idx"].apply(list)
        assert all(f == list(range(len(f))) for f in frames)
    else:
        assert (per_id == 1).all()
    pristine = out[out[id_col] % 5 == 0]
    assert decoded[pristine.index].all()


def test_header_dimension_extremes_pill_fast():
    """Targeted DoS probes the random fuzz only rarely hits: dimension
    fields forced to their maxima must pill in O(header) time, never
    allocate from the declared (unverified) size. The GIF logical-screen
    case is the r10 fuzz's headline find — before MAX_CANVAS_PIXELS a
    ~200-byte stream declaring 65535x65535 allocated ~12 GB and spent
    ~a minute compositing."""
    import time

    # GIF logical screen 65535x65535
    gf = bytearray(IMAGE_BLOBS[9])
    gf[6:10] = struct.pack("<HH", 0xFFFF, 0xFFFF)
    t0 = time.time()
    with pytest.raises(ValueError, match="decode cap"):
        decode_image_pixels(bytes(gf))
    assert time.time() - t0 < 5.0  # was ~55s pre-cap; generous for loaded hosts
    # JPEG SOF dims 65535x65535
    jb = bytearray(IMAGE_BLOBS[0])
    i = jb.find(b"\xff\xc0")
    jb[i + 5 : i + 9] = struct.pack(">HH", 0xFFFF, 0xFFFF)
    t0 = time.time()
    with pytest.raises(IMAGE_PILL):
        decode_image_pixels(bytes(jb))
    assert time.time() - t0 < 10.0
    # PNG IHDR dims 2^31-1 square
    png = bytearray(IMAGE_BLOBS[6])
    png[16:24] = struct.pack(">II", 0x7FFFFFFF, 0x7FFFFFFF)
    t0 = time.time()
    with pytest.raises(IMAGE_PILL):
        decode_image_pixels(bytes(png))
    assert time.time() - t0 < 10.0
    # ADPCM block_align 65535 with a short data chunk
    wv = bytearray(AUDIO_BLOBS[3])
    k = wv.find(b"fmt ")
    wv[k + 20 : k + 22] = struct.pack("<H", 0xFFFF)
    with pytest.raises(AUDIO_PILL):
        decode_wav_samples(bytes(wv))


# ---- AVI container (llm/avi.py) — the demuxer raises only (ValueError,
# struct.error), a subset of the operators' shared catch tuple

AVI_PILL = (ValueError, struct.error)


def _avi_blobs() -> list[bytes]:
    from turbine_maintenance_etl_spark.llm.avi import encode_avi_mjpeg
    from turbine_maintenance_etl_spark.llm.jpeg import encode_jpeg_lossless

    rng = np.random.default_rng(5)
    frames = [
        bytes(
            encode_jpeg_lossless(
                rng.integers(0, 256, (8, 9, 1)).astype(np.uint8), 8
            )
        )
        for _ in range(4)
    ]
    return [encode_avi_mjpeg(frames, 9, 8, fps=5)]


AVI_BLOBS = _avi_blobs()


@settings(max_examples=250, deadline=3000)
@given(mode=st.integers(0, 3), seed=st.integers(0, 2**31 - 1))
def test_corrupted_avi_streams_never_escape_the_pill(mode, seed):
    from turbine_maintenance_etl_spark.llm.avi import decode_avi_frames

    rng = np.random.default_rng(seed)
    data = _corrupt(AVI_BLOBS[0], mode, rng)
    try:
        frames = decode_avi_frames(data)
        assert frames and all(isinstance(f, bytes) for f in frames)
    except AVI_PILL:
        pass


def test_deeply_nested_avi_lists_decode_iteratively():
    """r10 fuzz finding: the recursive LIST walk let a crafted 24 KB
    stream (one LIST per ~12 bytes) blow the interpreter recursion
    limit — RecursionError is not in the pill and killed the task. The
    explicit-stack walk must handle arbitrary nesting in linear time."""
    from turbine_maintenance_etl_spark.llm.avi import decode_avi_frames

    inner = b"00dc" + struct.pack("<I", 2) + b"ab"
    payload = inner
    for _ in range(50_000):
        payload = b"LIST" + struct.pack("<I", 4 + len(payload)) + b"xxxx" + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"AVI " + payload
    assert decode_avi_frames(blob) == [b"ab"]


def test_retained_frames_and_zip_bomb_caps():
    """r10 review findings beyond the header caps: (a) a GIF animation
    retains a full canvas copy per frame, so frame COUNT multiplies the
    canvas cost — the retained-total cap must trip, and the production
    single-image path (decode_gif_pixels) must decode only frame 1 of a
    long animation; (b) PNG IDAT inflates up to ~1000x, so decompress
    must be bounded by the header-derived payload size."""
    from turbine_maintenance_etl_spark.llm.gif import (
        MAX_TOTAL_PIXELS,
        decode_gif_frames,
        encode_gif,
    )

    pal = np.arange(24, dtype=np.uint8).reshape(8, 3)
    idx = np.zeros((64, 64), dtype=np.uint8)
    many = encode_gif([idx] * 40, pal)
    # 40 composited 64x64 frames decode fine (well under the cap)...
    assert len(decode_gif_frames(many)) == 40
    # ...but the single-image path stops after ONE frame
    assert decode_image_pixels(many).shape == (64, 64, 3)
    assert len(decode_gif_frames(many, max_frames=1)) == 1
    # retained-total cap: screen at the canvas cap x 5 frames overflows
    # MAX_TOTAL_PIXELS on frame 5; frames are 1x1 so the stream is tiny
    big = encode_gif(
        [np.zeros((1, 1), dtype=np.uint8)] * 5, pal, width=8192, height=8192
    )
    with pytest.raises(ValueError, match="retained-decode cap"):
        decode_gif_frames(big)
    assert MAX_TOTAL_PIXELS // (8192 * 8192) == 4  # cap geometry the test relies on
    # ...while the single-image consumer is untouched by animation length
    assert decode_image_pixels(big).shape == (8192, 8192, 3)

    # PNG zip bomb: 16M-pixel gray image of zeros compresses to ~16 KB;
    # corrupt the IHDR to declare a LEGAL small size — the bounded
    # decompress must not inflate the full 16 MB before failing
    from turbine_maintenance_etl_spark.llm.png import encode_png_extended

    bomb_src = encode_png_extended(np.zeros((4096, 4096), dtype=np.uint8), color=0)
    assert len(bomb_src) < 100_000
    hacked = bytearray(bomb_src)
    hacked[16:24] = struct.pack(">II", 16, 16)  # declared 16x16
    import resource, time as _t

    t0 = _t.time()
    peak0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with pytest.raises(IMAGE_PILL):
        decode_image_pixels(bytes(hacked))
    assert _t.time() - t0 < 5.0
    # inflating only expected+1 bytes: no multi-MB spike
    assert resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - peak0 < 8 * 1024


def test_jpeg_and_png_dimension_caps():
    from turbine_maintenance_etl_spark.llm.jpeg import MAX_FRAME_PIXELS
    from turbine_maintenance_etl_spark.llm.png import MAX_IMAGE_PIXELS

    jb = bytearray(IMAGE_BLOBS[0])
    i = jb.find(b"\xff\xc0")
    jb[i + 5 : i + 9] = struct.pack(">HH", 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="decode cap"):
        decode_image_pixels(bytes(jb))
    png = bytearray(IMAGE_BLOBS[6])
    png[16:24] = struct.pack(">II", 1 << 16, 1 << 16)
    with pytest.raises(ValueError, match="decode cap"):
        decode_image_pixels(bytes(png))
    assert MAX_FRAME_PIXELS == MAX_IMAGE_PIXELS == 1 << 26


# ---- JPEG entropy segments: truncation and fill bytes at RSTn


def _entropy_segments(blob: bytes) -> list[tuple[int, int, int]]:
    """``(start, end, marker)`` raw byte ranges of every entropy-coded
    segment in ``blob``: ``end`` is the 0xFF of the marker that closes
    the segment, ``marker`` its code. Walks the header segments by
    their lengths, so table bytes that look like markers are never
    mistaken for one."""
    out, pos = [], 2
    while pos + 4 <= len(blob):
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        pos += 2 + seglen
        if marker != 0xDA:
            continue
        start = pos
        while True:
            f = blob.find(b"\xff", pos)
            nxt = blob[f + 1]
            if nxt == 0x00:  # stuffed data byte
                pos = f + 2
                continue
            out.append((start, f, nxt))
            if not 0xD0 <= nxt <= 0xD7:
                pos = f
                break
            start = pos = f + 2
    return out


def _restart_streams() -> dict[str, bytes]:
    rng = np.random.default_rng(4321)
    px = rng.integers(0, 256, (32, 40, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    return {
        "baseline": encode_jpeg_baseline(px, quality=85, restart_interval=2),
        "progressive": encode_jpeg_progressive(px, quality=80, restart_interval=2),
        "lossless_dri": encode_jpeg_lossless(gray[:, :, None], 8, 4, 0, 3),
    }


@pytest.mark.parametrize("kind", ["baseline", "progressive", "lossless_dri"])
def test_truncated_restart_segments_raise_or_decode_identically(kind):
    """Dropping the last entropy byte of any RSTn segment must never
    decode to different pixels: either the decoder needed the byte and
    raises ValueError (its reads are bounded by the segment), or the
    byte held only padding bits and the decode is pixel-identical.
    Cuts that would split a stuffed ``FF 00`` pair are skipped.
    Arithmetic streams are exempt: T.81 D.2.4 has the decoder read
    zero bytes past a segment's end, so a truncated arithmetic segment
    decodes without any detectable error."""
    from turbine_maintenance_etl_spark.llm.jpeg import decode_jpeg_pixels

    blob = _restart_streams()[kind]
    want = decode_jpeg_pixels(blob)
    wrong, cases = [], 0
    for start, end, marker in _entropy_segments(blob):
        if not 0xD0 <= marker <= 0xD7 or end - start < 1:
            continue
        if end - start >= 2 and blob[end - 2 : end] == b"\xff\x00":
            continue
        cases += 1
        try:
            got = decode_jpeg_pixels(blob[: end - 1] + blob[end:])
        except ValueError:
            continue
        if not np.array_equal(got, want):
            wrong.append(end)
    assert cases > 5
    assert wrong == [], f"{len(wrong)} of {cases} truncated segments decoded wrong pixels"


@pytest.mark.parametrize(
    "kind", ["baseline", "progressive", "lossless_dri", "arith", "arith_progressive"]
)
def test_fill_bytes_before_restart_markers_decode_identically(kind):
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes.
    One fill byte before every RSTn marker must decode to the same
    pixels as the stream without them, on every entropy-coding path."""
    from turbine_maintenance_etl_spark.llm.jpeg import decode_jpeg_pixels
    from turbine_maintenance_etl_spark.llm.jpeg_arith import (
        encode_jpeg_progressive_arith,
    )

    streams = _restart_streams()
    px = np.random.default_rng(77).integers(0, 256, (24, 32, 3), dtype=np.uint8)
    streams["arith"] = encode_jpeg_arith(px, quality=85, restart_interval=2)
    streams["arith_progressive"] = encode_jpeg_progressive_arith(
        px, quality=85, restart_interval=2
    )
    blob = streams[kind]
    want = decode_jpeg_pixels(blob)
    rsts = [end for _s, end, m in _entropy_segments(blob) if 0xD0 <= m <= 0xD7]
    assert rsts
    filled = bytearray(blob)
    for end in reversed(rsts):
        filled[end:end] = b"\xff"
    assert np.array_equal(decode_jpeg_pixels(bytes(filled)), want)
