"""Bounded-memory tests for the windowed _BitReader (llm/jpeg.py): a
JPEG scan without restart intervals is ONE entropy segment, and a
reader that unpacked it whole would hold ~64 bytes of pointer per
entropy byte — gigabytes for a multi-MB scan. The reader unpacks a
fixed ``_WINDOW_BYTES`` chunk at a time; these tests pin (a) bit-exact
reads across many window refills on a multi-MB single segment, (b)
that the unpacked list never exceeds the window, and (c) full-decoder
bit-identity on every Huffman scan decoder (progressive, baseline,
lossless) when the window is shrunk far below any real Huffman code
span (boundary mid-code)."""

from __future__ import annotations

import numpy as np
import pytest

import turbine_maintenance_etl_spark.llm.jpeg as J


def _noise_image(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_multi_mb_single_segment_reads_bounded_and_exact():
    """~2 MB destuffed single segment (no markers until the trailing
    EOI): every 16-bit read must match the big-endian uint16 view of
    the raw bytes, while the unpacked bit list stays <= one window."""
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 255, size=2_000_000, dtype=np.uint8)  # no 0xFF
    data = bytes(raw) + b"\xff\xd9"
    reader = J._BitReader(data, 0)
    cap = J._BitReader._WINDOW_BYTES * 8
    want = np.frombuffer(raw.tobytes(), dtype=">u2")
    got = np.empty(want.size, dtype=np.uint16)
    for i in range(want.size):
        got[i] = reader.read_bits(16)
        if i % 65536 == 0:
            assert len(reader.bits) <= cap
    assert np.array_equal(got, want)
    assert len(reader.bits) <= cap
    # segment exhausted at the EOI marker: next read is _SegmentEnd,
    # exactly where the byte-wise reader stopped
    with pytest.raises(J._SegmentEnd):
        reader.read_bit()
    assert reader.pos == len(raw)
    assert reader.marker == 0xD9


def test_mixed_read_sizes_cross_windows_exactly():
    """read_bit / read_bits(n) interleaved over several windows equals
    one whole-buffer unpack — covers the boundary slow path where a
    read spans two windows."""
    rng = np.random.default_rng(11)
    nbytes = J._BitReader._WINDOW_BYTES * 3 + 5
    raw = rng.integers(0, 255, size=nbytes, dtype=np.uint8)
    data = bytes(raw) + b"\xff\xd9"
    reader = J._BitReader(data, 0)
    ref_bits = np.unpackbits(raw)
    sizes = [1, 3, 7, 8, 13, 16, 2, 5]
    i = k = 0
    total = int(ref_bits.size)
    while i < total:
        n = min(sizes[k % len(sizes)], total - i)
        k += 1
        if n == 1:
            v = reader.read_bit()
        else:
            v = reader.read_bits(n)
        want = 0
        for b in ref_bits[i : i + n]:
            want = (want << 1) | int(b)
        assert v == want, f"bit offset {i}, n={n}"
        i += n


def test_reads_are_bounded_by_the_segment_inside_a_chunk():
    """One chunk holds both segments' bits here, but no read may start
    past the current segment's end, and a read that ends past it is
    caught at the next restart (or ``finish``) before any further bit
    of the next segment is decoded."""
    data = b"\xa5\x5a\xff\xd0\x3c\xff\xd9"  # seg 0: A55A, RST0, seg 1: 3C
    reader = J._BitReader(data, 0)
    assert len(reader.bits) > 16  # the chunk runs on into segment 1
    assert reader.read_bits(16) == 0xA55A
    with pytest.raises(J._SegmentEnd):
        reader.read_bit()
    reader.restart()
    assert reader.read_bits(8) == 0x3C
    reader.finish()
    assert reader.scan_end() == 5 and reader.marker == 0xD9

    reader = J._BitReader(data, 0)
    reader.read_bits(12)
    reader.read_bits(8)  # ends 4 bits past segment 0
    with pytest.raises(J._SegmentEnd):
        reader.restart()


def _stream(kind, restart_interval, seed, h, w, quality) -> bytes:
    px = _noise_image(h, w, seed=seed)
    if kind == "progressive":
        return J.encode_jpeg_progressive(px, quality, restart_interval=restart_interval)
    if kind == "baseline":
        return J.encode_jpeg_baseline(px, quality, restart_interval=restart_interval)
    return J.encode_jpeg_lossless(px[:, :, :1], 8, 4, 0, restart_interval)


@pytest.mark.parametrize("kind", ["progressive", "baseline", "lossless"])
def test_tiny_window_decode_bit_identical(monkeypatch, kind):
    """Shrink the window to 3 destuffed bytes (24 bits — smaller than
    a worst-case 16-bit Huffman code + magnitude) and decode a real
    stream without restarts: thousands of refills, codes split
    mid-window, result must equal the default-window decode
    bit-for-bit."""
    blob = _stream(kind, 0, seed=3, h=24, w=33, quality=80)
    want = J.decode_jpeg_pixels(blob)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 3)
    got = J.decode_jpeg_pixels(blob)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("kind", ["progressive", "baseline", "lossless"])
def test_tiny_window_decode_with_restarts(monkeypatch, kind):
    """Same tiny-window identity across DRI/RSTn segment reloads."""
    blob = _stream(kind, 2, seed=5, h=40, w=17, quality=75)
    want = J.decode_jpeg_pixels(blob)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 2)
    got = J.decode_jpeg_pixels(blob)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("kind", ["progressive", "baseline", "lossless"])
def test_truncated_single_segment_still_raises(monkeypatch, kind):
    """Truncation semantics survive the windowing: a stream cut inside
    the entropy data (no terminating marker) raises ValueError,
    regardless of which window the cut lands in."""
    blob = _stream(kind, 0, seed=9, h=16, w=16, quality=85)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 4)
    with pytest.raises(ValueError):
        J.decode_jpeg_pixels(blob[: len(blob) // 2])
