"""Motion-JPEG AVI demux (RIFF container) — round 8, session 3: the
video path gains a real CONTAINER. An MJPEG AVI is the simplest
real-world video interchange format a curation corpus meets (capture
cards, webcams, DICOM exports): a RIFF tree whose ``movi`` list holds
one compressed JPEG per frame, so demux + the from-spec JPEG family
in ``llm/jpeg.py`` yields full video decode with no new entropy code.

The RIFF walker is the same chunk discipline as the WAV parser
(32-bit little-endian sizes, word alignment); ``hdrl`` metadata is
skipped — frame payloads are self-describing JPEG streams, and the
repo's decoder handles every JPEG mode they could use (baseline,
progressive, arithmetic, 12-bit, lossless). The fixture muxer writes
a spec-shaped header (avih + strh/strf with the MJPG handler) so the
demuxer has a real in-container producer.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .multimodal import _map_media


def _chunk(cid: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return cid + struct.pack("<I", len(payload)) + payload + pad


def _list(ltype: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", ltype + payload)


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int,
                     fps: int = 10, handler: bytes = b"MJPG") -> bytes:
    """Mux JPEG frame payloads into a minimal spec-shaped AVI."""
    if not frames:
        raise ValueError("cannot mux an empty frame list")
    n = len(frames)
    movi = b"".join(_chunk(b"00dc", f) for f in frames)
    # BITMAPINFOHEADER (40 bytes) with the compression fourcc
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, handler,
        width * height * 3, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER: fccType/fccHandler, scale/rate = 1/fps, length = n
    strh = (
        b"vids" + handler
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0,
                      0xFFFFFFFF, 0)
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    # AVIMAINHEADER: microseconds/frame, flags, totals, dimensions
    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    body = b"AVI " + hdrl + _list(b"movi", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_frames(data: bytes) -> list[bytes]:
    """Demux the video frame payloads (``00dc``/``00db`` chunks) of an
    AVI, in stream order. Raises ValueError on non-AVI or truncated
    input (poison-pill contract, same as every decoder here)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI byte stream")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    frames: list[bytes] = []

    # explicit-stack walk: the previous recursive version let a crafted
    # ~12-bytes-per-level nested-LIST stream (a 24 KB blob suffices)
    # blow the interpreter recursion limit — RecursionError is not in
    # the poison-pill catch tuple, so it killed the task instead of
    # pilling (found by the r10 corrupted-stream fuzz)
    stack: list[tuple[int, int]] = [(12, end)]
    while stack:
        pos, stop = stack.pop()
        while pos + 8 <= stop:
            cid = data[pos : pos + 4]
            (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = pos + 8
            if body + sz > stop:
                raise ValueError("truncated AVI chunk")
            if cid == b"LIST":
                # resume the current level after the sublist; LIST
                # bodies nest, so sublist frames still append in
                # stream order (the sublist is walked before the
                # remainder of this level)
                stack.append((body + sz + (sz & 1), stop))
                pos, stop = body + 4, body + sz
                continue
            if cid in (b"00dc", b"00db"):
                frames.append(bytes(data[body : body + sz]))
            pos = body + sz + (sz & 1)
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    return frames


def explode_avi_frames(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "video_id",
) -> DataFrame:
    """(id, avi bytes) -> one row per frame (id, frame_idx, media) as
    Arrow-batched mapInPandas. A corrupt container yields ONE
    poison-pill row (NULL frame_idx/media + err) instead of failing
    the task — the frames of healthy videos in the same batch survive.
    Scale shape: the container bytes cross the Arrow boundary once and
    fan out to frame rows JVM-side of the next operator; no shuffle is
    introduced here."""
    return _map_media(
        df, binary_col, id_col, "frame_idx bigint, media binary, err string",
        lambda data: [(fi, f, None) for fi, f in enumerate(decode_avi_frames(data))],
    )
