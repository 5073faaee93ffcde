#!/usr/bin/env python
"""Single-core decode throughput per media codec (round-8 verdict item
5): publishes the MB/s table in SCALING.md so the compiled-kernel swap
decision for a real 100 TB multimodal pass is data-driven, not vibes.

Methodology: one representative in-memory blob per codec (same pixel /
sample scales the registry proof entries use, but larger so per-call
overhead amortizes), decode repeatedly on ONE core for >= min_secs,
report decoded-input MB/s (encoded bytes / decode wall time). The
engine parallelizes per record (mapInPandas), so corpus decode cost =
corpus_bytes / (MB_s * cores)."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402


def _img(h=96, w=128, ch=3, seed=1):
    rng = np.random.default_rng(seed)
    # block-structured content: compressible like real imagery, not noise
    base = rng.integers(0, 250, (h // 8, w // 8, ch))
    return np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)


def _pcm(n=240_000, chans=1, seed=2):
    t = np.arange(n) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 220 * t) + 0.1 * np.sin(2 * np.pi * 1733 * t)
    return np.repeat(x[:, None], chans, 1).astype(np.float32)


def fixtures() -> dict[str, tuple[bytes, object]]:
    from turbine_maintenance_etl_spark.llm import adpcm, avi, g711, gif, jpeg, jpeg_arith, multimodal, png

    img = _img()
    gray = img[:, :, 0]
    pal_vals = np.unique(gray)
    pal = np.zeros((256, 3), np.uint8)
    pal[: len(pal_vals)] = np.stack([pal_vals] * 3, 1)
    gidx = np.searchsorted(pal_vals, gray)
    pcm = _pcm()
    out: dict[str, tuple[bytes, object]] = {
        "png_rgb8": (multimodal.encode_png(img), png.decode_png_pixels),
        "jpeg_baseline": (jpeg.encode_jpeg_baseline(img, quality=90), jpeg.decode_jpeg_pixels),
        "jpeg_progressive": (
            jpeg.encode_jpeg_progressive(img, quality=90),
            jpeg.decode_jpeg_pixels,
        ),
        "jpeg_baseline_rst": (
            jpeg.encode_jpeg_baseline(img, quality=90, restart_interval=1),
            jpeg.decode_jpeg_pixels,
        ),
        "jpeg_progressive_rst": (
            jpeg.encode_jpeg_progressive(img, quality=90, restart_interval=1),
            jpeg.decode_jpeg_pixels,
        ),
        "jpeg_arithmetic": (
            jpeg_arith.encode_jpeg_arith(img, quality=90),
            jpeg.decode_jpeg_pixels,
        ),
        "jpeg_lossless_p1": (
            jpeg.encode_jpeg_lossless(gray[:, :, None], 8, 1),
            jpeg.decode_jpeg_pixels_native,
        ),
        "jpeg_lossless_p4": (
            jpeg.encode_jpeg_lossless(gray[:, :, None], 8, 4),
            jpeg.decode_jpeg_pixels_native,
        ),
        "gif_lzw": (gif.encode_gif([gidx], pal), gif.decode_gif_pixels),
        "g711_ulaw": (
            g711.encode_wav_g711(pcm, 8000, ulaw=True),
            multimodal.decode_wav_samples,
        ),
        "adpcm_ima": (
            adpcm.encode_wav_adpcm(pcm, 8000),
            multimodal.decode_wav_samples,
        ),
        "adpcm_ms": (
            adpcm.encode_wav_ms_adpcm(pcm, 8000),
            multimodal.decode_wav_samples,
        ),
        "avi_mjpeg_demux": (
            avi.encode_avi_mjpeg(
                [jpeg.encode_jpeg_lossless(gray[:, :, None]) for _ in range(8)],
                128,
                96,
            ),
            avi.decode_avi_frames,
        ),
    }
    return out


def measure(min_secs: float = 1.0) -> dict[str, dict[str, float]]:
    rows: dict[str, dict[str, float]] = {}
    for name, (blob, dec) in fixtures().items():
        dec(blob)  # warm / validate
        n, t0 = 0, time.perf_counter()
        while True:
            dec(blob)
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_secs:
                break
        mbs = len(blob) * n / dt / 1e6
        rows[name] = {
            "blob_kb": round(len(blob) / 1e3, 1),
            "mb_per_sec_per_core": round(mbs, 3),
            "gb_per_core_hour": round(mbs * 3.6, 1),
        }
    return rows


if __name__ == "__main__":
    print(json.dumps(measure(), indent=2))
