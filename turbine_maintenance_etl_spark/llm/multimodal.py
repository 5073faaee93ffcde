"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (BASELINE.json north star).

Design: media rides in a ``binary`` column next to typed metadata
(media_type, byte length, content hash). Decode, feature extraction,
resize, resample and hashing run as Arrow-batched ``mapInPandas``
operators over from-spec, stdlib + numpy codecs:

- images: PNG (every legal still image: bit depths 1-16, palette with
  tRNS, ADAM7 interlacing; llm/png.py), the JPEG family (baseline,
  progressive, arithmetic, 12-bit and lossless, with restart intervals;
  llm/jpeg.py + llm/jpeg_arith.py) and GIF (first composited frame;
  llm/gif.py);
- audio: WAV with PCM 8/16-bit, IMA and MS ADPCM (llm/adpcm.py) and
  G.711 A-law/µ-law (llm/g711.py);
- video: Motion-JPEG AVI (llm/avi.py) and frames-as-rows tables.

One poison-pill contract: every decode operator maps its rows through
``_map_media``. A NULL payload reads as empty bytes. A row whose decode
raises one of ``_CORRUPT_MEDIA`` comes back as exactly one pill row:
NULL feature columns plus ``err = "<type>: <message>"`` (the two
feature extractors have no ``err`` column; the image one keeps the
true ``n_bytes``). Any other exception fails the task, so the codecs
convert their crash types to ValueError at the dispatch boundary
(``_CORRUPT_STREAM_ERRORS``) and cap header-declared allocations
(``png.MAX_IMAGE_PIXELS``, ``MAX_RESAMPLE_FRAMES``). At 100 TB: binary
payloads stay columnar in parquet (no base64 inflation), metadata
predicates prune row groups before any decode, and
``spark.sql.files.maxPartitionBytes`` bounds per-task decode memory.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .png import PNG_SIG, decode_png_pixels, encode_png_extended

# Exception types a corrupted stream may surface from the from-spec
# codecs that are NOT in the operators' poison-pill catch list — the
# dispatch boundary converts them to ValueError so one flipped byte in
# untrusted media can never kill an executor task (r9 verdict item 5;
# the corrupted-stream fuzz in tests/test_multimodal_fuzz.py found
# IndexError escaping a truncated GIF image descriptor). Valid-stream
# correctness is pinned separately by the codec oracles/differentials,
# so this cannot mask a wrong-pixels bug — only re-tag a crash.
# MemoryError and RecursionError are included (r10 review): the decode
# caps bound header-DECLARED allocations, but a refusal can still
# surface as numpy's MemoryError subclass under a tight executor
# cgroup, and both raise cleanly BEFORE state is corrupted — pilling
# the row beats failing the task 4 retries in a row.
_CORRUPT_STREAM_ERRORS = (
    IndexError,
    KeyError,
    EOFError,
    OverflowError,
    MemoryError,
    RecursionError,
)

# The poison-pill catch tuple: a row whose decode raises one of these
# becomes a tagged pill row. Used only by _map_media.
_CORRUPT_MEDIA = (ValueError, NotImplementedError, struct.error, zlib.error)


def _map_rows(
    df: DataFrame,
    keys: list[str],
    inputs: list[str],
    fields: str,
    fn: Callable[..., list[tuple]],
) -> DataFrame:
    """The one Arrow row loop: ``fn(*input_values)`` returns a list of
    ``fields`` tuples, zero or more output rows per input row, each
    emitted after that row's ``keys`` values. Key types pass through
    from ``df``. The output frame is built with object columns so a
    NULL never turns a batch's BIGINT column into float64, which would
    round every 56-bit hash beside it."""
    names = keys + [f.split()[0] for f in fields.split(",")]
    schema = ", ".join(
        [f"{k} {df.schema[k].dataType.simpleString()}" for k in keys] + [fields]
    )
    nk = len(keys)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vals in zip(*(pdf[c].tolist() for c in keys + inputs)):
                rows += [vals[:nk] + out for out in fn(*vals[nk:])]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return df.select(*dict.fromkeys(keys + inputs)).mapInPandas(batches, schema=schema)


def _map_media(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    fields: str,
    decode: Callable[[bytes], list[tuple]],
    pill: Callable[[bytes], tuple] | None = None,
) -> DataFrame:
    """The poison-pill media map every decode operator runs on:
    ``decode(bytes)`` returns the row's output tuples as a list, so it
    raises before any of them is emitted (NULL binary reads as
    ``b""``). If it raises one of ``_CORRUPT_MEDIA`` the row yields one
    pill row instead: ``pill(bytes)`` if given, else all fields NULL,
    with the ``err`` field (when present) set to the tag."""
    names = [f.split()[0] for f in fields.split(",")]

    def rows(data: bytes | None) -> list[tuple]:
        data = bytes(data) if data is not None else b""
        try:
            return decode(data)
        except _CORRUPT_MEDIA as e:
            out = list(pill(data)) if pill else [None] * len(names)
            if "err" in names:
                out[names.index("err")] = f"{type(e).__name__}: {e}"
            return [tuple(out)]

    return _map_rows(df, [id_col], [binary_col], fields, rows)


def decode_image_pixels(data: bytes) -> np.ndarray:
    """Format-dispatching image decode to (h, w, channels) uint8:
    full PNG (llm/png.py), the complete JPEG family (llm/jpeg.py +
    llm/jpeg_arith.py), and GIF (llm/gif.py — first composited
    frame). Anything else raises NotImplementedError, which every
    decode operator already maps to a tagged poison-pill row.
    Corrupted streams raise ValueError (non-pill exception types are
    converted here, at the dispatch boundary)."""
    try:
        if data.startswith(PNG_SIG):
            return decode_png_pixels(data)
        if data[:2] == b"\xff\xd8":
            from turbine_maintenance_etl_spark.llm.jpeg import decode_jpeg_pixels

            return decode_jpeg_pixels(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            from turbine_maintenance_etl_spark.llm.gif import decode_gif_pixels

            return decode_gif_pixels(data)
    except _CORRUPT_STREAM_ERRORS as e:
        raise ValueError(f"corrupt image stream: {type(e).__name__}: {e}") from e
    raise NotImplementedError("unsupported image format (PNG/JPEG/GIF available)")


def attach_binary_metadata(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Cheap metadata without decoding: byte length + sha2 content hash —
    pure JVM expressions, the exact-dedup key for media."""
    b = F.col(binary_col)
    return df.withColumn("media_bytes", F.octet_length(b)).withColumn(
        "media_sha256", F.sha2(b, 256)
    )


def extract_image_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode-and-extract as Arrow-batched mapInPandas: (id, bytes) ->
    (id, width, height, channels, n_bytes). The UDF boundary crosses
    once per batch (not per row); decode parallelism == partition
    count. Pill rows read as NULL dimensions with their true byte
    count."""

    def features(data: bytes) -> list[tuple]:
        px = decode_image_pixels(data)
        return [(px.shape[1], px.shape[0], px.shape[2], len(data))]

    return _map_media(
        df, binary_col, id_col,
        "width int, height int, channels int, n_bytes bigint",
        features, pill=lambda data: (None, None, None, len(data)),
    )


def sample_frames(
    df: DataFrame,
    every_nth: int = 10,
    frame_col: str = "frame_idx",
) -> DataFrame:
    """Frame-sampling for video tables keyed (video_id, frame_idx):
    keep every Nth frame — a pure filter, prunable at scan time."""
    return df.filter(F.col(frame_col) % every_nth == 0)


# --- Audio: real WAV (RIFF/PCM) decode, stdlib-only like the PNG path ---

_WAV_SIG = b"RIFF"


def decode_wav_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python WAV decode to (samples float32 in [-1, 1] shaped
    (n_frames, n_channels), sample_rate). Supports PCM 8/16-bit and
    IMA ADPCM (format 0x11, llm/adpcm.py — round 8); anything else
    raises (honest partial decoder, same policy as
    decode_png_pixels)."""
    if len(data) < 44 or not data.startswith(_WAV_SIG) or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE byte stream")
    pos, fmt, raw, n_fact = 12, None, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            # A declared chunk size can overrun the buffer (truncated or
            # crafted file) leaving body short — struct.unpack on <16
            # bytes raises struct.error, which is NOT in the poison-pill
            # catch list; surface it as ValueError instead.
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"fact":
            if len(body) >= 4:
                (n_fact,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("truncated WAV (missing fmt/data chunk)")
    audio_fmt, n_channels, sample_rate, _, block_align, bits = fmt
    if n_channels <= 0 or sample_rate <= 0:
        # crafted/corrupt headers must raise ValueError (caught by the
        # poison-pill path), never divide by zero downstream
        raise ValueError(f"bad WAV header: channels={n_channels} rate={sample_rate}")
    try:
        if audio_fmt == 0x11 and bits == 4:
            from .adpcm import decode_ima_blocks

            pcm = decode_ima_blocks(raw, n_channels, block_align, n_fact)
            return pcm.astype(np.float32) / 32768.0, sample_rate
        if audio_fmt == 0x02 and bits == 4:  # MS ADPCM
            from .adpcm import decode_ms_blocks

            pcm = decode_ms_blocks(raw, n_channels, block_align, n_fact)
            return pcm.astype(np.float32) / 32768.0, sample_rate
        if audio_fmt in (0x06, 0x07) and bits == 8:  # G.711 A-law / µ-law
            from .g711 import decode_g711

            x = decode_g711(raw, ulaw=audio_fmt == 0x07).astype(np.float32) / 32768.0
            n_frames = len(x) // n_channels
            if n_fact is not None:
                n_frames = min(n_frames, n_fact)
            return x[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate
    except _CORRUPT_STREAM_ERRORS as e:
        # same boundary conversion as decode_image_pixels: corrupted
        # block/table state must pill, never crash the task
        raise ValueError(f"corrupt WAV stream: {type(e).__name__}: {e}") from e
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(f"WAV format={audio_fmt} bits={bits} unsupported")
    if bits == 16:
        x = np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype="<i2").astype(
            np.float32
        ) / 32768.0
    else:  # 8-bit WAV is unsigned, biased at 128
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    n_frames = len(x) // n_channels
    return x[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate


def extract_audio_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """WAV decode + feature extraction as Arrow-batched mapInPandas:
    (id, bytes) -> (id, sample_rate, n_channels, duration_s, rms, peak).
    Pill rows read as NULL features (bad media is routine at corpus
    scale — poison-pill rows must not kill the job)."""

    def features(data: bytes) -> list[tuple]:
        samples, rate = decode_wav_samples(data)
        mono = samples.mean(axis=1)
        return [(
            rate,
            samples.shape[1],
            round(samples.shape[0] / rate, 6),
            round(float(np.sqrt(np.mean(mono**2))), 6) if len(mono) else 0.0,
            round(float(np.abs(mono).max()), 6) if len(mono) else 0.0,
        )]

    return _map_media(
        df, binary_col, id_col,
        "sample_rate int, n_channels int, duration_s double, rms double, peak double",
        features,
    )


# --- Image resize: REAL on the PNG path (numpy nearest-neighbor +
# --- stdlib re-encode), the preprocessing step a vision-training
# --- pipeline runs on every image before the encoder sees it ---------------


def encode_png(px: np.ndarray, compress_level: int = 6) -> bytes:
    """PNG encoder for (h, w, c) uint8 pixels: 8-bit, filter 0 per
    scanline, one zlib IDAT (``png.encode_png_extended``). Round-trips
    exactly through ``decode_png_pixels`` (test-pinned)."""
    if px.ndim != 3 or px.dtype != np.uint8 or px.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"expected (h, w, c<=4) uint8 pixels, got {px.shape} {px.dtype}")
    return encode_png_extended(px, compress_level=compress_level)


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample (pixel-center mapping,
    the same grid torchvision's NEAREST uses) — pure numpy fancy
    indexing, no loops."""
    h, w = px.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return px[ys[:, None], xs[None, :]]


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch image resize: decode -> nearest-neighbor resample ->
    re-encode PNG, as Arrow-batched ``mapInPandas`` (decode parallelism
    == partition count, like every decode operator here). Undecodable
    payloads survive as NULL ``resized`` with an error tag (poison-pill
    doctrine — one bad image must not kill a 100 TB job)."""

    def resize(data: bytes) -> list[tuple]:
        px = decode_image_pixels(data)
        return [(encode_png(resize_nearest(px, out_w, out_h)), out_w, out_h, px.shape[2], None)]

    return _map_media(
        df, binary_col, id_col,
        "resized binary, out_width int, out_height int, channels int, err string",
        resize,
    )


# --- Audio resample: REAL on the WAV/PCM path (numpy linear interp +
# --- stdlib re-encode) — the audio twin of the image resize ----------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 encoder for (n_frames, n_channels)
    float32 samples in [-1, 1]. Round-trips through
    ``decode_wav_samples`` (test-pinned, up to 16-bit quantization)."""
    if samples.ndim != 2:
        raise ValueError(f"expected (frames, channels) samples, got {samples.shape}")
    n_frames, n_ch = samples.shape
    pcm = np.clip(samples, -1.0, 1.0)
    pcm = np.round(pcm * 32767.0).astype("<i2").reshape(-1)
    raw = pcm.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# Output frames one resample may allocate (the png.MAX_IMAGE_PIXELS
# magnitude): a WAV header declaring sample_rate=1 would otherwise ask
# a 2 MB file for ~119 GiB of output.
MAX_RESAMPLE_FRAMES = 1 << 26


def resample_linear(samples: np.ndarray, rate_in: int, rate_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resample per channel (the
    cheap production choice for rate normalization before a feature
    frontend; no windowed-sinc dependency in-container). Pure numpy.
    Raises ValueError before allocating more than
    ``MAX_RESAMPLE_FRAMES`` output frames."""
    if rate_in == rate_out or samples.shape[0] == 0:
        # zero-frame audio is valid (placeholder recordings): passes
        # through as empty at the new rate, same as the equal-rate path
        return samples
    n_in = samples.shape[0]
    n_out = max(1, int(round(n_in * rate_out / rate_in)))
    if n_out > MAX_RESAMPLE_FRAMES:
        raise ValueError(
            f"resample {rate_in}->{rate_out} Hz of {n_in} frames exceeds the "
            f"{MAX_RESAMPLE_FRAMES}-frame cap"
        )
    t_out = np.arange(n_out) * (rate_in / rate_out)
    t_in = np.arange(n_in, dtype=np.float64)
    return np.stack(
        [np.interp(t_out, t_in, samples[:, c]) for c in range(samples.shape[1])],
        axis=1,
    ).astype(np.float32)


def resample_audio(
    df: DataFrame,
    target_rate: int = 16_000,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch audio rate-normalization: WAV decode -> linear resample to
    ``target_rate`` -> PCM16 re-encode, as Arrow-batched mapInPandas
    (the exact preprocessing an ASR/audio-LM corpus runs before feature
    extraction). Poison-pill rows (non-WAV, truncated, unsupported
    codec, over-cap rate) survive as NULL ``resampled`` with an error
    tag."""

    def resample(data: bytes) -> list[tuple]:
        samples, rate = decode_wav_samples(data)
        out = resample_linear(samples, rate, target_rate)
        return [(encode_wav(out, target_rate), target_rate, out.shape[0], out.shape[1], None)]

    return _map_media(
        df, binary_col, id_col,
        "resampled binary, out_rate int, n_frames bigint, n_channels int, err string",
        resample,
    )


# --- Image perceptual hashing + dedup: the image twin of the text
# --- dedup family (llm/dedup.py). dHash/aHash over the REAL PNG decode
# --- + nearest-neighbor resize path, Hamming-bucketed candidate pairs
# --- like SimHash. At 100 TB: hashing is one Arrow-batched map over the
# --- binary column (no shuffle); dedup shuffles 8-byte hash keys, never
# --- pixels; near-dup pairing is a band-bucket equi-join, never all-pairs.

PHASH_W = 8   # hash grid width  (bits per row)
PHASH_H = 7   # hash grid height -> 8*7 = 56 bits, sign-safe in BIGINT


def grayscale_int(px: np.ndarray) -> np.ndarray:
    """(h, w, c) uint8 -> (h, w) int64 integer-mean grayscale
    (sum // c). Integer arithmetic keeps the hash bit-exact across
    engines (a float luma weighting would be rounding-mode-sensitive);
    for c == 1 this is the identity."""
    c = px.shape[2]
    return px.astype(np.int64).sum(axis=2) // c


def dhash_int(gray: np.ndarray, hash_w: int = PHASH_W, hash_h: int = PHASH_H) -> int:
    """Difference hash (dHash): resize to (hash_w+1, hash_h), emit bit
    r*hash_w+c = [g(r, c+1) > g(r, c)], fold LSB-first into a Python
    int. Horizontal-gradient signs are invariant to uniform brightness
    shifts and to any monotone per-pixel offset that preserves local
    ordering — the property that makes dHash a NEAR-duplicate key where
    sha256 of the bytes is only an exact one."""
    g = resize_nearest(gray, hash_w + 1, hash_h)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(hash_w * hash_h, dtype=np.uint64)).sum())


def ahash_int(gray: np.ndarray, hash_w: int = PHASH_W, hash_h: int = PHASH_H) -> int:
    """Average hash (aHash): resize to (hash_w, hash_h), bit = pixel
    strictly above the grid mean. Compared in integers
    (px * n > sum) so there is no float mean to disagree on."""
    g = resize_nearest(gray, hash_w, hash_h).astype(np.int64)
    n = hash_w * hash_h
    total = int(g.sum())
    bits = (g.reshape(-1) * n > total).astype(np.uint64)
    return int((bits << np.arange(n, dtype=np.uint64)).sum())


def image_phash(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual fingerprints for an image column: PNG/JPEG decode ->
    integer grayscale -> 56-bit dHash + aHash, as ONE Arrow-batched
    mapInPandas pass (same decode-operator discipline as
    extract_image_features). Poison-pill rows (unsupported format,
    corrupt bytes) survive as NULL hashes with an error tag.

    Output: (id, dhash bigint, ahash bigint, width int, height int,
    err string). The id passes through untouched, so its output type is
    the INPUT's type (string/composite ids work — video_frame_signatures
    routes a composite key through here)."""

    def phash(data: bytes) -> list[tuple]:
        px = decode_image_pixels(data)
        gray = grayscale_int(px)
        return [(dhash_int(gray), ahash_int(gray), px.shape[1], px.shape[0], None)]

    return _map_media(
        df, binary_col, id_col,
        "dhash bigint, ahash bigint, width int, height int, err string",
        phash,
    )


def phash_dedup(ph: DataFrame, hash_col: str = "dhash", id_col: str = "doc_id") -> DataFrame:
    """Exact-collision image dedup on a perceptual hash column: survivor
    = min id per hash value (same survivor rule as the text exact
    dedup). One 8-byte-keyed shuffle; decode failures (NULL hash) pass
    through as their own survivors — dropping undecodable media is a
    policy decision, not a dedup side effect. The window key coalesces
    NULL hashes to a per-doc sentinel: at corpus scale a few percent of
    undecodable media would otherwise ALL shuffle into the single
    hash=NULL window partition — one straggler task holding the whole
    failure set just to compute a min the isNull branch discards (same
    fix as normalized_dedup's empty class)."""
    key = F.coalesce(
        F.col(hash_col).cast("string"),
        F.concat(F.lit("__nohash__"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy(key)
    flagged = ph.withColumn(
        "survivor",
        F.col(hash_col).isNull() | (F.col(id_col) == F.min(id_col).over(w)),
    )
    return flagged


def phash_near_dup_pairs(
    ph: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "doc_id",
    n_bands: int = 7,
    band_bits: int = 8,
    max_hamming: int = 6,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate image candidate pairs at Hamming distance <=
    ``max_hamming``: split the 56-bit hash into ``n_bands`` bands of
    ``band_bits``; any pair within distance n_bands-1 (pigeonhole:
    <= max_hamming < n_bands) shares at least one exact band, so the
    band equi-join finds every such pair without an all-pairs compare
    — the SimHash banding trick (llm/dedup.py:simhash) applied to
    pixels. Verification is one bit_count(xor) per candidate.

    The pigeonhole PRECONDITION is enforced: completeness requires
    ``max_hamming < n_bands`` (a pair may put one differing bit into
    each band — with distance >= n_bands no band need match and the
    equi-join silently misses real pairs). ``max_bucket_size`` caps
    pathological band-value buckets (near-constant images — masks,
    black frames — all share bv=0 bands and would drive the self-join
    quadratic), same doctrine as the text LSH cap.

    Output: (id_a, id_b, hamming)."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the banding "
            "equi-join is only complete for distances < n_bands "
            "(pigeonhole) — raise n_bands or lower max_hamming"
        )
    mask = (1 << band_bits) - 1
    bands = ph.select(
        F.col(id_col), F.col(hash_col).alias("_h")
    ).filter(F.col("_h").isNotNull())
    exploded = bands.select(
        id_col,
        "_h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("_h", b * band_bits).bitwiseAND(F.lit(mask)).alias("bv"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(id_col, "_h", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    if max_bucket_size is not None:
        # window count rides the band shuffle (run-once doctrine) —
        # over-cap (band, bv) buckets are near-constant-image mass whose
        # pair expansion would be quadratic; exact dedup absorbs them
        w_sz = Window.partitionBy("band", "bv")
        exploded = (
            exploded.withColumn("_sz", F.count("*").over(w_sz))
            .filter(F.col("_sz") <= max_bucket_size)
            .drop("_sz")
        )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("_h").alias("_ha"), "band", "bv"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("_h").alias("_hb"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- Audio fingerprint + dedup: the audio member of the perceptual
# --- dedup family. Energy-envelope bits over the REAL WAV/PCM decode
# --- path; integer arithmetic end to end so a SQL oracle can recompute
# --- the fingerprint bit-exactly from known sample values.

FPRINT_WINDOWS = 56  # envelope windows -> 56-bit fingerprint, BIGINT-safe


def audio_envelope_fingerprint_int(
    samples: np.ndarray, n_windows: int = FPRINT_WINDOWS
) -> int:
    """56-bit energy-envelope fingerprint of (n_frames, n_channels)
    float32 PCM in [-1, 1]: mono abs-sum per window, bit k =
    [window_sum * n_windows > total_sum] — the aHash rule applied to the
    loudness envelope, invariant to uniform GAIN change (both sides
    scale) exactly as dHash/aHash are to brightness. All arithmetic is
    integer (PCM16 quantization undone by *32768 before rounding), so
    the bit pattern is engine-exact. Files shorter than ``n_windows``
    frames hash the windows that exist (remaining bits 0)."""
    n = samples.shape[0]
    if n == 0:
        return 0
    mono_q = np.abs(np.rint(samples * 32768.0).astype(np.int64)).sum(axis=1)
    total = int(mono_q.sum())
    bits = 0
    for k in range(n_windows):
        lo, hi = k * n // n_windows, (k + 1) * n // n_windows
        if lo >= hi:
            continue
        if int(mono_q[lo:hi].sum()) * n_windows > total:
            bits |= 1 << k
    return bits


def audio_fingerprint(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    n_windows: int = FPRINT_WINDOWS,
) -> DataFrame:
    """Perceptual fingerprints for an audio column: WAV decode ->
    integer energy-envelope fingerprint, one Arrow-batched mapInPandas
    pass (same decode-operator discipline as image_phash). Poison-pill
    rows survive as NULL fingerprint + err. Pair with ``phash_dedup``
    (hash_col='afp') for survivor selection and
    ``phash_near_dup_pairs`` for Hamming-banded near-dup candidates —
    the banding machinery is hash-agnostic.

    Output: (id, afp bigint, n_frames bigint, sample_rate int,
    err string)."""

    def fingerprint(data: bytes) -> list[tuple]:
        samples, rate = decode_wav_samples(data)
        return [(audio_envelope_fingerprint_int(samples, n_windows), samples.shape[0], rate, None)]

    return _map_media(
        df, binary_col, id_col,
        "afp bigint, n_frames bigint, sample_rate int, err string",
        fingerprint,
    )


# --- Video dedup: frame-sampled perceptual signatures. A "video" here
# --- is the standard frames-as-rows table (video_id, frame_idx, frame
# --- binary) — the honest in-container representation, since no video
# --- container codecs exist here (same policy as JPEG).


def video_frame_signatures(
    frames: DataFrame,
    video_col: str = "video_id",
    frame_col: str = "frame_idx",
    binary_col: str = "media",
    every_nth: int = 2,
) -> DataFrame:
    """Per-video perceptual signature over SAMPLED frames: keep every
    ``every_nth`` frame (scan-prunable filter — sample_frames), dHash
    each via the real PNG path (image_phash), then fold the ordered
    (frame_idx, dhash) stream into one md5 signature per video. Two
    videos with identical sampled frame CONTENT (bytes may differ —
    re-encodes, brightness shifts) collide; survivor = min video id per
    signature (phash_dedup rule).

    Scale: frame sampling prunes 1/every_nth of the decode work before
    any Python runs; hashing is the narrow Arrow map; the signature fold
    is ONE groupBy on video_id carrying 8-byte hashes, never pixels.
    Frames that fail to decode contribute a NULL slot (position kept —
    a corrupt frame makes videos differ, it must not collapse them).

    Output: (video_id, n_frames_sampled, sig, survivor)."""
    sampled = sample_frames(frames, every_nth, frame_col)
    # composite STRING key through the hash pass — an arithmetic pack
    # (video_id * 2^20 + frame_idx) overflows for 64-bit content ids and
    # silently bleeds frame_idx >= 2^20 into the NEXT video's keyspace,
    # merging distinct videos; a delimited string is total for any id
    video_type = frames.schema[video_col].dataType.simpleString()
    frame_type = frames.schema[frame_col].dataType.simpleString()
    sep = "\x1f"
    hashed = image_phash(
        sampled.select(
            F.col(video_col), F.col(frame_col), F.col(binary_col)
        ).withColumn(
            "_fid",
            F.concat_ws(
                sep, F.col(video_col).cast("string"), F.col(frame_col).cast("string")
            ),
        ),
        binary_col=binary_col,
        id_col="_fid",
    ).select(
        F.split(F.col("_fid"), sep).getItem(0).cast(video_type).alias(video_col),
        F.split(F.col("_fid"), sep).getItem(1).cast(frame_type).alias(frame_col),
        "dhash",
    )
    sigs = (
        hashed.groupBy(video_col)
        .agg(
            F.count("*").alias("n_frames_sampled"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(frame_col, "dhash"))
                        ),
                        lambda s: F.concat_ws(
                            ":",
                            s[frame_col].cast("string"),
                            F.coalesce(s["dhash"].cast("string"), F.lit("null")),
                        ),
                    ),
                    ",",
                )
            ).alias("sig"),
        )
    )
    w = Window.partitionBy("sig")
    return sigs.withColumn(
        "survivor", F.col(video_col) == F.min(video_col).over(w)
    )
