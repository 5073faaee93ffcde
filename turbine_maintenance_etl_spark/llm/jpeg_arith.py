"""Arithmetic-coded JPEG (ITU-T T.81 Annexes D, F, G) — closes the last
non-environmental codec gap left by the baseline/progressive Huffman
paths in ``jpeg.py`` (rounds 7-8; this round: SOF9 extended-sequential
and SOF10 progressive arithmetic decode, plus fixture encoders so the
decoders have a real in-container producer).

Everything here is written from the public spec:

- The binary arithmetic coder is T.81 Annex D's QM-coder: a
  multiply-free interval coder whose probability estimation is the
  113-state machine of Table D.3 (Qe value, next-MPS index, next-LPS
  index, MPS-switch flag per state).  The table constants below are
  the published Table D.3 values; ``tests/test_jpeg_arith.py``
  re-extracts the same table from the system ``libjpeg.so`` and
  asserts equality, so a transcription error cannot survive.
- Byte stuffing follows T.81 D.1.7/D.2.4: an 0x00 byte is stuffed
  after any 0xFF entropy byte (markers are 0xFF followed by non-zero),
  carries are resolved by stacking potentially-overflowing 0xFF bytes,
  and the decoder feeds zero bytes once it reaches a marker.
- The DC/AC statistical models are T.81 F.1.4 (sequential: Figures
  F.4-F.9 encode, F.19-F.24 decode; 49 DC bins / 245 AC bins per
  conditioning table) and G.1.3 (progressive: point-transformed first
  scans, fixed-probability DC refinement bits, zero-history refinement
  contexts).  Conditioning parameters come from the DAC marker
  (B.2.4.3): DC low/high thresholds L, U and the AC context split Kx.

Like the Huffman paths, this is a per-record kernel invoked inside
Arrow-batched ``mapInPandas`` operators; only the entropy layer
differs — quantization, DCT, subsampling and color conversion are
shared with ``jpeg.py``.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import _Restarts, _Segments, _assemble_progressive

# ------------------------------------------------------------ Table D.3
#
# (Qe, NMPS, NLPS, SWITCH) per state.  Entry 113 is the conventional
# fixed-probability state used for equiprobable decisions (AC signs,
# DC refinement bits): Qe = 0x5A1D with NMPS = NLPS = 113 and no MPS
# switch, so estimation updates leave it unchanged.
QM_STATES: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # fixed ~0.5 bin (index 113)
)

_FIXED = 113  # stats-bin VALUE for the fixed-probability state, MPS=0

# default conditioning (T.81 table defaults; DAC overrides per table id)
_DEFAULT_DC_COND = (0, 1)  # (L, U)
_DEFAULT_AC_KX = 5

# DC statistics layout (Table F.4): five context blocks of 4 bins at
# 0/4/8/12/16 (zero, +small, -small, +large, -large), X1..X15 at
# 20..34, magnitude bins at +14 from the category bin -> 49 bins.
_DC_STAT_BINS = 64
# AC layout (Table F.5): 3 bins (SE, S0, X1) per k at 3*(k-1), two
# shared X2../M2.. banks at 189 (k <= Kx) and 217 (k > Kx) -> 245 bins.
_AC_STAT_BINS = 256


# ------------------------------------------------------------- QM coder


class ArithEncoder:
    """T.81 D.1 binary arithmetic encoder with byte-stuffed output.

    ``encode(st, i, d)`` codes decision ``d`` under the adaptive
    statistics bin ``st[i]`` (low 7 bits: Table D.3 state index; high
    bit: current MPS sense).  Carry resolution stacks 0xFF bytes (which
    a carry would overflow) and defers 0x00 bytes (droppable if
    trailing) exactly as D.1.7 prescribes.
    """

    def __init__(self) -> None:
        self.c = 0
        self.a = 0x10000
        self.ct = 11  # bits until the first/next byte is complete (D.1.3)
        self.buf = -1  # pending byte, may still absorb a carry
        self.sc = 0  # stacked 0xFF bytes awaiting carry resolution
        self.zc = 0  # deferred 0x00 bytes (dropped if trailing)
        self.out = bytearray()

    # -- output plumbing ------------------------------------------------

    def _flush_zeros(self) -> None:
        if self.zc:
            self.out += b"\x00" * self.zc
            self.zc = 0

    def _emit_stuffed(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: resolve into the pending byte; stacked 0xFFs become
            # 0x00 (the carry rippled through them)
            if self.buf >= 0:
                self._flush_zeros()
                self._emit_stuffed(self.buf + 1)
            self.zc += self.sc
            self.sc = 0
            # the spacer bits (D.1.3) guarantee t & 0xFF != 0xFF here
            self.buf = t & 0xFF
        elif t == 0xFF:
            self.sc += 1  # may still overflow: stack it
        else:
            # no future carry can reach anything pending: flush it
            if self.buf == 0:
                self.zc += 1
            elif self.buf >= 0:
                self._flush_zeros()
                self.out.append(self.buf)
            if self.sc:
                self._flush_zeros()
                self.out += b"\xff\x00" * self.sc
                self.sc = 0
            self.buf = t
        self.c &= 0x7FFFF

    # -- coding ----------------------------------------------------------

    def encode(self, st: bytearray, i: int, d: int) -> None:
        sv = st[i]
        qe, nmps, nlps, switch = QM_STATES[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if d != mps:
            # LPS path (Figure D.7): top subinterval of size Qe unless
            # the conditional exchange gives LPS the smaller bottom part
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            if switch:
                mps ^= 1
            st[i] = (mps << 7) | nlps
        else:
            # MPS path (Figure D.6)
            if self.a >= 0x8000:
                return  # no renormalization -> no estimation update
            if self.a < qe:
                self.c += self.a
                self.a = qe
            st[i] = (mps << 7) | nmps
        while True:  # RENORME (Figure D.8)
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8
            if self.a >= 0x8000:
                break

    def encode_fixed(self, d: int) -> None:
        """Code an equiprobable decision (AC sign / DC refinement)."""
        fixed = bytearray((_FIXED,))
        self.encode(fixed, 0, d)

    def flush(self) -> bytes:
        """D.1.8 FLUSH: pick the code value with the most trailing
        zeros inside the final interval, push out remaining bytes, and
        drop droppable trailing zeros.  Returns the segment bytes."""
        t = (self.c + self.a - 1) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # one final carry
            if self.buf >= 0:
                self._flush_zeros()
                self._emit_stuffed(self.buf + 1)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buf == 0:
                self.zc += 1
            elif self.buf >= 0:
                self._flush_zeros()
                self.out.append(self.buf)
            if self.sc:
                self._flush_zeros()
                self.out += b"\xff\x00" * self.sc
                self.sc = 0
        if self.c & 0x7FFF800:  # final bytes only if not all zero
            self._flush_zeros()
            self._emit_stuffed((self.c >> 19) & 0xFF)
            if self.c & 0x7F800:
                self._emit_stuffed((self.c >> 11) & 0xFF)
        return bytes(self.out)


class ArithDecoder(_Segments):
    """T.81 D.2 binary arithmetic decoder over one scan's entropy
    segments.  Bits 16..31 of ``c`` hold the comparison window; new
    bytes enter at bits 8..15 during renormalization.  Bytes come
    destuffed from ``_destuff_scan``; past the current segment's end
    the decoder reads zero bytes (D.2.4), and ``restart`` re-initializes
    it at the next segment."""

    def _open(self, start: int, stop: int) -> None:
        self._i, self._stop = start, stop
        self.c = (self._in_byte() << 24) | (self._in_byte() << 16)
        self.a = 0x10000
        self.ct = 0

    def _in_byte(self) -> int:
        i = self._i
        if i >= self._stop:
            return 0
        self._i = i + 1
        return self._buf[i]

    def decode(self, st: bytearray, i: int) -> int:
        sv = st[i]
        qe, nmps, nlps, switch = QM_STATES[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if (self.c >> 16) < self.a:
            if self.a & 0x8000:
                return mps  # fast path: no renorm, no estimation update
            # MPS region but renormalization needed (Figure D.21 MPS_EXCHANGE)
            if self.a < qe:
                d = mps ^ 1
                if switch:
                    mps ^= 1
                st[i] = (mps << 7) | nlps
            else:
                d = mps
                st[i] = (mps << 7) | nmps
        else:
            # LPS region (Figure D.22 LPS_EXCHANGE)
            self.c -= self.a << 16
            if self.a < qe:
                d = mps
                st[i] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                if switch:
                    mps ^= 1
                st[i] = (mps << 7) | nlps
            self.a = qe
        while self.a < 0x8000:  # RENORMD (Figure D.23)
            if self.ct == 0:
                self.c |= self._in_byte() << 8
                self.ct = 8
            self.a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
        return d

    def decode_fixed(self) -> int:
        fixed = bytearray((_FIXED,))
        return self.decode(fixed, 0)


# ------------------------------------------------- statistical models
#
# The per-scan statistics context: one DC and one AC area per
# conditioning-table id, plus per-component DC prediction state.


class _Stats:
    def __init__(self) -> None:
        self.dc: dict[int, bytearray] = {}
        self.ac: dict[int, bytearray] = {}

    def dc_bins(self, tbl: int) -> bytearray:
        if tbl not in self.dc:
            self.dc[tbl] = bytearray(_DC_STAT_BINS)
        return self.dc[tbl]

    def ac_bins(self, tbl: int) -> bytearray:
        if tbl not in self.ac:
            self.ac[tbl] = bytearray(_AC_STAT_BINS)
        return self.ac[tbl]

    def reset(self) -> None:
        for b in self.dc.values():
            b[:] = bytes(len(b))
        for b in self.ac.values():
            b[:] = bytes(len(b))


def _dc_decode(dec, st, ctx, cid, cond) -> int:
    """Decode one DC difference (Figures F.19-F.24) and update the
    conditioning context; returns the signed difference."""
    base = ctx[cid]
    if not dec.decode(st, base):
        ctx[cid] = 0
        return 0
    sign = dec.decode(st, base + 1)
    mag_bin = base + 2 + sign
    m = dec.decode(st, mag_bin)
    if m:
        mag_bin = 20  # X1
        while dec.decode(st, mag_bin):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic DC magnitude overflow")
            mag_bin += 1
    low, high = cond
    if m < ((1 << low) >> 1):
        ctx[cid] = 0
    elif m > ((1 << high) >> 1):
        ctx[cid] = 12 + sign * 4
    else:
        ctx[cid] = 4 + sign * 4
    v = m
    mag_bin += 14
    while m > 1:
        m >>= 1
        if dec.decode(st, mag_bin):
            v |= m
    v += 1
    return -v if sign else v


def _dc_encode(enc, st, ctx, cid, cond, diff) -> None:
    """Encode one DC difference (Figures F.4-F.9)."""
    base = ctx[cid]
    if diff == 0:
        enc.encode(st, base, 0)
        ctx[cid] = 0
        return
    enc.encode(st, base, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st, base + 1, sign)
    v = -diff if sign else diff
    mag_bin = base + 2 + sign
    m = 0
    v -= 1
    if v:
        enc.encode(st, mag_bin, 1)
        m = 1
        mag_bin = 20
        v2 = v
        while v2 > 1:
            v2 >>= 1
            enc.encode(st, mag_bin, 1)
            m <<= 1
            mag_bin += 1
    enc.encode(st, mag_bin, 0)
    low, high = cond
    if m < ((1 << low) >> 1):
        ctx[cid] = 0
    elif m > ((1 << high) >> 1):
        ctx[cid] = 12 + sign * 4
    else:
        ctx[cid] = 4 + sign * 4
    mag_bin += 14
    while m > 1:
        m >>= 1
        enc.encode(st, mag_bin, 1 if v & m else 0)


def _mag_decode_ac(dec, st, se_bin, bank) -> int:
    """Magnitude of a nonzero AC value (Figure F.23, AC layout: X1
    shares the bin at SE+2, X2.. live in the shared bank)."""
    mag_bin = se_bin + 2
    m = dec.decode(st, mag_bin)
    if m:
        if dec.decode(st, mag_bin):
            m <<= 1
            mag_bin = bank
            while dec.decode(st, mag_bin):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("arithmetic AC magnitude overflow")
                mag_bin += 1
    v = m
    mag_bin += 14
    while m > 1:
        m >>= 1
        if dec.decode(st, mag_bin):
            v |= m
    return v + 1


def _mag_encode_ac(enc, st, se_bin, bank, v) -> None:
    mag_bin = se_bin + 2
    m = 0
    v -= 1
    if v:
        enc.encode(st, mag_bin, 1)
        m = 1
        v2 = v
        if v2 > 1:
            v2 >>= 1
            enc.encode(st, mag_bin, 1)
            m <<= 1
            mag_bin = bank
            while v2 > 1:
                v2 >>= 1
                enc.encode(st, mag_bin, 1)
                m <<= 1
                mag_bin += 1
    enc.encode(st, mag_bin, 0)
    mag_bin += 14
    while m > 1:
        m >>= 1
        enc.encode(st, mag_bin, 1 if v & m else 0)


def _block_decode_seq(dec, dc_st, ac_st, ctx, pred, cid, cond, kx,
                      out) -> None:
    """One 8x8 block of quantized coefficients, sequential DCT scan
    (F.2.1.2/F.2.1.3), written into ``out`` in ZIGZAG-index order (the
    shared coefficient-store convention of the progressive paths)."""
    pred[cid] += _dc_decode(dec, dc_st, ctx, cid, cond)
    out[0] = pred[cid]
    k = 1
    while k <= 63:
        se_bin = 3 * (k - 1)
        if dec.decode(ac_st, se_bin):  # EOB decision
            break
        while not dec.decode(ac_st, se_bin + 1):  # zero run
            se_bin += 3
            k += 1
            if k > 63:
                raise ValueError("arithmetic AC run overflow")
        sign = dec.decode_fixed()
        bank = 189 if k <= kx else 217
        v = _mag_decode_ac(dec, ac_st, se_bin, bank)
        out[k] = -v if sign else v
        k += 1


def _block_encode_seq(enc, dc_st, ac_st, ctx, pred, cid, cond, kx,
                      qc) -> None:
    """Encode one block of quantized coefficients (zigzag-index order
    array ``qc``, as produced by jpeg._quantize_plane)."""
    dc = int(qc[0])
    _dc_encode(enc, dc_st, ctx, cid, cond, dc - pred[cid])
    pred[cid] = dc
    ke = 63
    while ke >= 1 and qc[ke] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        se_bin = 3 * (k - 1)
        enc.encode(ac_st, se_bin, 0)  # not EOB yet
        while qc[k] == 0:
            enc.encode(ac_st, se_bin + 1, 0)
            se_bin += 3
            k += 1
        enc.encode(ac_st, se_bin + 1, 1)
        v = int(qc[k])
        enc.encode_fixed(1 if v < 0 else 0)
        bank = 189 if k <= kx else 217
        _mag_encode_ac(enc, ac_st, se_bin, bank, abs(v))
        k += 1
    if ke < 63:
        enc.encode(ac_st, 3 * ke, 1)  # EOB decision at k = ke + 1


# ------------------------------------------------- progressive blocks
#
# T.81 G.1.3: the progressive arithmetic models.  DC first scans reuse
# the sequential DC model on point-transformed differences; DC
# refinement bits are equiprobable (fixed bin).  AC first scans reuse
# the sequential AC model over the band; AC refinement tracks
# zero-history contexts per position with newly-significant /
# correction-bit decisions (Figures G.10/G.12 analogues).


def _dc_first_arith(dec, dc_st, ctx, pred, cid, cond, blk, al) -> None:
    pred[cid] += _dc_decode(dec, dc_st, ctx, cid, cond)
    blk[0] = pred[cid] << al


def _dc_refine_arith(dec, blk, al) -> None:
    if dec.decode_fixed():
        blk[0] |= 1 << al


def _ac_first_arith(dec, ac_st, blk, ss, se, al, kx) -> None:
    k = ss
    while k <= se:
        se_bin = 3 * (k - 1)
        if dec.decode(ac_st, se_bin):  # EOB decision
            return
        while not dec.decode(ac_st, se_bin + 1):
            se_bin += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic AC run overflow")
        sign = dec.decode_fixed()
        bank = 189 if k <= kx else 217
        v = _mag_decode_ac(dec, ac_st, se_bin, bank)
        blk[k] = (-v if sign else v) << al
        k += 1


def _ac_refine_arith(dec, ac_st, blk, ss, se, al) -> None:
    p1, m1 = 1 << al, -(1 << al)
    # previous-stage end-of-block index: the refinement EOB decision is
    # only coded past the last already-significant position
    kex = se
    while kex > 0 and blk[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        se_bin = 3 * (k - 1)
        if k > kex and dec.decode(ac_st, se_bin):
            return  # EOB decision
        while True:
            if blk[k] != 0:  # already significant: one correction bit
                if dec.decode(ac_st, se_bin + 2):
                    blk[k] += p1 if blk[k] >= 0 else m1
                break
            if dec.decode(ac_st, se_bin + 1):  # newly significant
                blk[k] = m1 if dec.decode_fixed() else p1
                break
            se_bin += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic AC refinement run overflow")
        k += 1


def _ac_first_encode_arith(enc, ac_st, blk, ss, se, al, kx) -> None:
    mags = [abs(int(blk[k])) >> al for k in range(se + 1)]
    ke = se
    while ke >= ss and mags[ke] == 0:
        ke -= 1
    k = ss
    while k <= ke:
        se_bin = 3 * (k - 1)
        enc.encode(ac_st, se_bin, 0)  # not EOB yet
        while mags[k] == 0:
            enc.encode(ac_st, se_bin + 1, 0)
            se_bin += 3
            k += 1
        enc.encode(ac_st, se_bin + 1, 1)
        enc.encode_fixed(1 if blk[k] < 0 else 0)
        bank = 189 if k <= kx else 217
        _mag_encode_ac(enc, ac_st, se_bin, bank, mags[k])
        k += 1
    if k <= se:
        enc.encode(ac_st, 3 * (k - 1), 1)  # EOB decision


def _ac_refine_encode_arith(enc, ac_st, blk, ss, se, al) -> None:
    cur = [abs(int(blk[k])) >> al for k in range(se + 1)]
    ke = se
    while ke >= ss and cur[ke] == 0:
        ke -= 1
    kex = ke
    while kex > 0 and (cur[kex] >> 1) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        se_bin = 3 * (k - 1)
        if k > kex:
            enc.encode(ac_st, se_bin, 0)
        while True:
            if cur[k] > 1:  # already significant: correction bit
                enc.encode(ac_st, se_bin + 2, cur[k] & 1)
                break
            if cur[k] == 1:  # newly significant + sign
                enc.encode(ac_st, se_bin + 1, 1)
                enc.encode_fixed(1 if blk[k] < 0 else 0)
                break
            enc.encode(ac_st, se_bin + 1, 0)
            se_bin += 3
            k += 1
        k += 1
    if k <= se:
        enc.encode(ac_st, 3 * (k - 1), 1)


# ------------------------------------------------- scan-level decode


def decode_scan_sequential(data, pos, frame, quant, scan_tabs, dc_cond,
                           ac_kx, restart_interval) -> np.ndarray:
    """Decode the single interleaved sequential-arithmetic scan of a
    SOF9 frame and assemble the image (shared dequant/IDCT/color
    tail)."""
    h, w, comps, prec = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    coef = {
        cid: np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
        for cid, hs, vs, _tq in comps
    }
    stats = _Stats()
    ctx = {cid: 0 for cid, *_ in comps}
    pred = {cid: 0 for cid, *_ in comps}
    dec = ArithDecoder(data, pos)
    rst = _Restarts(dec, restart_interval, pred, ctx)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if rst.unit():
                stats.reset()
            for cid, hs, vs, _tq in comps:
                td, ta = scan_tabs[cid]
                dc_st = stats.dc_bins(td)
                ac_st = stats.ac_bins(ta)
                cond = dc_cond.get(td, _DEFAULT_DC_COND)
                kx = ac_kx.get(ta, _DEFAULT_AC_KX)
                for by in range(vs):
                    for bx in range(hs):
                        _block_decode_seq(
                            dec, dc_st, ac_st, ctx, pred, cid, cond, kx,
                            coef[cid][my * vs + by, mx * hs + bx],
                        )
    return _assemble_progressive(frame, coef, quant)


def decode_scan_progressive(data, pos, frame, coef, scan_tabs, dc_cond,
                            ac_kx, ss, se, ah, al,
                            restart_interval) -> int:
    """Decode one progressive-arithmetic scan into the shared
    coefficient store; returns the byte position of the next marker."""
    h, w, comps, prec = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    byid = {cid: (hs, vs) for cid, hs, vs, _tq in comps}
    stats = _Stats()
    ctx = {cid: 0 for cid in scan_tabs}
    pred = {cid: 0 for cid in scan_tabs}
    dec = ArithDecoder(data, pos)
    rst = _Restarts(dec, restart_interval, pred, ctx)
    if ss == 0 and len(scan_tabs) > 1:
        # interleaved DC scan, MCU order
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if rst.unit():
                    stats.reset()
                for cid, (td, _ta) in scan_tabs.items():
                    hs, vs = byid[cid]
                    dc_st = stats.dc_bins(td)
                    cond = dc_cond.get(td, _DEFAULT_DC_COND)
                    for by in range(vs):
                        for bx in range(hs):
                            blk = coef[cid][my * vs + by, mx * hs + bx]
                            if ah == 0:
                                _dc_first_arith(
                                    dec, dc_st, ctx, pred, cid, cond, blk, al
                                )
                            else:
                                _dc_refine_arith(dec, blk, al)
    else:
        # non-interleaved scan over the component's own block raster
        ((cid, (td, ta)),) = scan_tabs.items()
        hs, vs = byid[cid]
        bw = (-(-(w * hs) // hmax) + 7) // 8
        bh = (-(-(h * vs) // vmax) + 7) // 8
        dc_st = stats.dc_bins(td)
        ac_st = stats.ac_bins(ta)
        cond = dc_cond.get(td, _DEFAULT_DC_COND)
        kx = ac_kx.get(ta, _DEFAULT_AC_KX)
        for by in range(bh):
            for bx in range(bw):
                if rst.unit():
                    stats.reset()
                blk = coef[cid][by, bx]
                if ss == 0:
                    if ah == 0:
                        _dc_first_arith(dec, dc_st, ctx, pred, cid, cond, blk, al)
                    else:
                        _dc_refine_arith(dec, blk, al)
                elif ah == 0:
                    _ac_first_arith(dec, ac_st, blk, ss, se, al, kx)
                else:
                    _ac_refine_arith(dec, ac_st, blk, ss, se, al)
    return dec.scan_end()


# ------------------------------------------------- container encoders
#
# Fixture encoders (the in-container producers the decoders are tested
# against): they transmit the SAME quantized coefficients as
# jpeg.encode_jpeg_baseline at the same quality/subsampling (shared
# _quantize_plane double-rounding), so arithmetic decode must equal
# baseline decode BIT-exactly — the differential the tests pin.


def _headers(kind: int, h, w, nc, comps, ql, qc, dc_cond, ac_kx,
             restart_interval) -> bytearray:
    """SOI..DAC..DRI common header prefix; ``kind`` is the SOF marker
    byte (0xC9 sequential / 0xCA progressive, both arithmetic)."""
    from .jpeg import ZIGZAG

    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HHBB", 1, 1, 0, 0))

    def dqt(tq, q):
        zz = bytes(int(q[ZIGZAG[i]]) for i in range(64))
        return b"\xff\xdb" + struct.pack(">HB", 67, tq) + zz

    out += dqt(0, ql)
    if nc == 3:
        out += dqt(1, qc)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    out += bytes([0xFF, kind]) + struct.pack(">H", 2 + len(sof)) + sof
    # DAC (B.2.4.3): one (Tc<<4|Tb, Cs) pair per conditioning table —
    # always emitted explicitly so the decoder's parser has a producer
    dac = b""
    for tb in range(2 if nc == 3 else 1):
        low, high = dc_cond
        dac += struct.pack(">BB", tb, (high << 4) | low)
        dac += struct.pack(">BB", 0x10 | tb, ac_kx)
    out += b"\xff\xcc" + struct.pack(">H", 2 + len(dac)) + dac
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    return out


def _sos_header(scan_comps, ss, se, ah, al) -> bytes:
    hdr = struct.pack(">B", len(scan_comps))
    for cid, tq in scan_comps:
        t = 0 if tq == 0 else 1
        hdr += struct.pack(">BB", cid, (t << 4) | t)
    hdr += struct.pack(">BBB", ss, se, (ah << 4) | al)
    return b"\xff\xda" + struct.pack(">H", 2 + len(hdr)) + hdr


class _ScanEncoder:
    """Per-scan arithmetic coding state with restart-boundary plumbing:
    flushes the coder, emits RSTn, and resets statistics + DC state
    exactly like the decoder's restart walk (``_Restarts``)."""

    def __init__(self, comps, rst: int) -> None:
        self.enc = ArithEncoder()
        self.stats = _Stats()
        self.pred = {cid: 0 for cid, *_ in comps}
        self.ctx = {cid: 0 for cid, *_ in comps}
        self.rst = rst
        self.n = 0
        self.out = bytearray()

    def unit(self) -> None:
        """Call once per MCU/block before coding it."""
        if self.rst and self.n and self.n % self.rst == 0:
            self.out += self.enc.flush()
            self.out += bytes([0xFF, 0xD0 + (self.n // self.rst - 1) % 8])
            self.enc = ArithEncoder()
            self.stats.reset()
            for cid in self.pred:
                self.pred[cid] = 0
                self.ctx[cid] = 0
        self.n += 1

    def finish(self) -> bytes:
        self.out += self.enc.flush()
        return bytes(self.out)


def encode_jpeg_arith(
    px: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
    dc_cond: tuple[int, int] = _DEFAULT_DC_COND,
    ac_kx: int = _DEFAULT_AC_KX,
) -> bytes:
    """Encode pixels as an extended-sequential ARITHMETIC (SOF9) JPEG.

    ``dc_cond``/``ac_kx`` vary the DAC conditioning (entropy changes,
    decoded coefficients must not — a test axis the Huffman paths don't
    have)."""
    from .jpeg import (_QUANT_CHROMA, _QUANT_LUMA, _prepare_planes,
                       _quantize_plane, _scaled_quant)

    low, high = dc_cond
    if not (0 <= low <= high <= 15):
        raise ValueError(f"invalid DC conditioning L={low} U={high}")
    if not (1 <= ac_kx <= 63):
        raise ValueError(f"invalid AC conditioning Kx={ac_kx}")
    h, w, nc, comps, planes, mcus_x, mcus_y = _prepare_planes(px, subsample)
    ql = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)
    grids = {
        cid: _quantize_plane(planes[cid], ql if tq == 0 else qc)
        for cid, _hs, _vs, tq in comps
    }

    sc = _ScanEncoder(comps, restart_interval)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            sc.unit()
            for cid, hs, vs, tq in comps:
                t = 0 if tq == 0 else 1
                dc_st = sc.stats.dc_bins(t)
                ac_st = sc.stats.ac_bins(t)
                for by in range(vs):
                    for bx in range(hs):
                        _block_encode_seq(
                            sc.enc, dc_st, ac_st, sc.ctx, sc.pred, cid,
                            dc_cond, ac_kx,
                            grids[cid][my * vs + by, mx * hs + bx],
                        )

    out = _headers(0xC9, h, w, nc, comps, ql, qc, dc_cond, ac_kx,
                   restart_interval)
    out += _sos_header([(cid, tq) for cid, _hs, _vs, tq in comps], 0, 63, 0, 0)
    out += sc.finish()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive_arith(
    px: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
    dc_cond: tuple[int, int] = _DEFAULT_DC_COND,
    ac_kx: int = _DEFAULT_AC_KX,
) -> bytes:
    """Encode pixels as a PROGRESSIVE ARITHMETIC (SOF10) JPEG with the
    same scan script as the Huffman progressive fixture encoder:
    interleaved DC first (Al=1) + DC refinement, per-component spectral
    AC bands (1-5, 6-63) at Al=1 and their refinements to Al=0."""
    from .jpeg import (_QUANT_CHROMA, _QUANT_LUMA, _prepare_planes,
                       _quantize_plane, _scaled_quant)

    h, w, nc, comps, planes, mcus_x, mcus_y = _prepare_planes(px, subsample)
    ql = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)
    grids = {
        cid: _quantize_plane(planes[cid], ql if tq == 0 else qc)
        for cid, _hs, _vs, tq in comps
    }
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    rst = restart_interval

    out = _headers(0xCA, h, w, nc, comps, ql, qc, dc_cond, ac_kx, rst)
    ids_tq = [(cid, tq) for cid, _hs, _vs, tq in comps]

    # scan 1: DC first, interleaved, Al=1
    sc = _ScanEncoder(comps, rst)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            sc.unit()
            for cid, hs, vs, tq in comps:
                dc_st = sc.stats.dc_bins(0 if tq == 0 else 1)
                for by in range(vs):
                    for bx in range(hs):
                        v = int(grids[cid][my * vs + by, mx * hs + bx, 0]) >> 1
                        _dc_encode(sc.enc, dc_st, sc.ctx, cid, dc_cond,
                                   v - sc.pred[cid])
                        sc.pred[cid] = v
    out += _sos_header(ids_tq, 0, 0, 0, 1) + sc.finish()

    # per-component AC bands, first pass at Al=1, then refinements
    band_splits = [(1, 5), (6, 63)]
    for refine in (False, True):
        for cid, hs, vs, tq in comps:
            bw = (-(-(w * hs) // hmax) + 7) // 8
            bh = (-(-(h * vs) // vmax) + 7) // 8
            t = 0 if tq == 0 else 1
            for ss, se in band_splits:
                sc = _ScanEncoder(comps, rst)
                ac_st = sc.stats.ac_bins(t)
                for by in range(bh):
                    for bx in range(bw):
                        sc.unit()
                        blk = grids[cid][by, bx]
                        if refine:
                            _ac_refine_encode_arith(
                                sc.enc, ac_st, blk, ss, se, 0
                            )
                        else:
                            _ac_first_encode_arith(
                                sc.enc, ac_st, blk, ss, se, 1, ac_kx
                            )
                ah, al = (1, 0) if refine else (0, 1)
                out += _sos_header([(cid, tq)], ss, se, ah, al) + sc.finish()

    # final scan: DC refinement to Al=0 (fixed-probability bits)
    sc = _ScanEncoder(comps, rst)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            sc.unit()
            for cid, hs, vs, _tq in comps:
                for by in range(vs):
                    for bx in range(hs):
                        v = int(grids[cid][my * vs + by, mx * hs + bx, 0])
                        sc.enc.encode_fixed(v & 1)
    out += _sos_header(ids_tq, 0, 0, 1, 0) + sc.finish()

    out += b"\xff\xd9"
    return bytes(out)
