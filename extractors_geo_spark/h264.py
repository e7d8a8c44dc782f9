"""Pure-Python H.264/AVC (ISO/IEC 14496-10) — CAVLC engine.

The coding surface, all through real AVC machinery (NAL units with
emulation prevention, Exp-Golomb headers, SPS/PPS, IDR/non-IDR slice
headers, avcC records for MP4 'avc1' tracks), CAVLC entropy coding for
I and P pictures (CABAC streams and B slices raise ValueError):

1. **I_PCM** (mb_type 25): raw samples in the bitstream, bit-exact
   round trip — the entropy-free floor, kept for fixtures.
2. **Intra** (r4): I_4x4 and I_16x16 macroblocks with spec intra
   prediction (9 + 4 modes), the 4x4 integer transform + Hadamard DC
   transforms, spec quantization, and full CAVLC residual coding
   (coeff_token / level / total_zeros / run_before, §9.2). The encoder
   reconstructs exactly like the decoder, so decode(encode(x)) equals
   the encoder's reconstruction BIT-EXACTLY (asserted in tests), and
   at low QP PSNR vs the source exceeds 40 dB.
3. **P slices** (r5-r7): IDR+P GOPs — P_SKIP with skip-run coding,
   motion-compensated quarter-pel 6-tap interpolation (8.4.2.2),
   median MV prediction + MVD coding, partitions 16x16/16x8/8x16/P_8x8
   with sub-8x8 shapes (8x4/4x8/4x4), one L0 reference (the previous
   reference picture), inter CBP mapping, dead-zone quantization,
   intra-in-P fallback, inter bS deblocking. Static scenes collapse to
   ~10-byte all-skip frames.
4. **4:2:0 chroma** (r7): real chroma residuals (2x2 DC Hadamard + AC),
   chroma intra prediction incl. plane mode, cbp_chroma, chroma
   deblocking. Gray clips stay bit-identical
   (flat-128 default source, cbpc=0 everywhere).
5. **Multi-slice pictures** (r7): slices covering whole MB rows
   (first_mb_in_slice = row * PicWidthInMbs), the hardware-encoder /
   error-resilience shape — one NAL per slice in the sample, neighbour
   availability (intra prediction, nC contexts, MV prediction, skip
   runs) cut at each slice top, for I and P pictures
   (encode_*(slice_rows=N)). Deblocking filters across slice
   boundaries (disable_deblocking_filter_idc 0 semantics).

Every luma residual goes through the 4x4 transform. The encoder writes
Baseline (profile_idc 66) parameter sets.

Decode scope and honesty notes:
- Remaining out-of-scope shapes raise a clear ValueError: the 8x8
  transform (PPS transform_8x8_mode_flag 1) and the other High-profile
  tools (scaling matrices, >8-bit, 4:2:2/4:4:4), explicit weighted
  prediction (PPS weighted_pred_flag 1), more than one active L0
  reference (num_ref_idx_l0_active > 1, from the PPS default or the
  slice override), FMO, slices at non-row-aligned first_mb offsets,
  SP/SI slices, B slices (bi-prediction, direct modes and
  weighted_bipred_idc with them), ref-pic-list modification, MMCO
  adaptive marking, CABAC entropy coding (entropy_coding_mode_flag 1).
  `operators/multimodal.sample_frames` maps that to its documented
  well-formed-unsupported-codec stub. A High-profile SPS of the 8-bit
  4:2:0 flat-scaling shape still parses.
- decode_samples decodes a stream in decode order and keeps one
  reference: the last picture with nal_ref_idc != 0 (an IDR resets it).
- The in-loop deblocking filter (8.7) IS applied for streams that
  request it (luma, all-intra bS 4/3, strong+normal filters, alpha/
  beta/tc0 threshold tables, per-MB QP averaging, I_PCM-as-QP-0);
  encode_idr_cavlc(deblock=True) produces such streams and returns the
  filtered recon, so decode == recon stays bit-exact.
- VLC tables are transcribed from the spec; encoder and decoder share
  one copy and every table is machine-checked prefix-free, so
  round-trip self-consistency holds for ANY coefficient density
  (property-tested with dense blocks). The rarely-hit tail entries
  (TotalCoeff >= 13 with TrailingOnes = 3 in the 2<=nC<4 context) are
  best-effort transcriptions; a mismatch there would only affect
  interop with external decoders, never this encoder/decoder pair.
"""

from __future__ import annotations

import struct

import numpy as np


# ------------------------------------------------------------- bit plumbing
class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def u(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def ue(self, v: int) -> None:  # unsigned Exp-Golomb
        code = v + 1
        nbits = code.bit_length()
        self.u(0, nbits - 1)
        self.u(code, nbits)

    def se(self, v: int) -> None:  # signed Exp-Golomb
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align(self) -> None:
        if self.n:
            self.u(0, 8 - self.n)

    def raw(self, data: bytes) -> None:
        assert self.n == 0
        self.buf += data

    def rbsp_trailing(self) -> None:
        self.u(1, 1)
        self.align()


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def u(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | ((self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def raw(self, n: int) -> bytes:
        assert self.pos % 8 == 0
        b = self.data[self.pos >> 3 : (self.pos >> 3) + n]
        self.pos += 8 * n
        return b


def _ep_insert(rbsp: bytes) -> bytes:
    """Emulation prevention: 00 00 0x -> 00 00 03 0x for x <= 3."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _ep_remove(nal: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(nal):
        b = nal[i]
        if zeros >= 2 and b == 3 and i + 1 < len(nal) and nal[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ============================================================ CAVLC tables
# Transcribed from Rec. ITU-T H.264 (public spec) §9.2 tables. Encoder and
# decoder share these; tests assert every table is prefix-free.

# Table 9-5 coeff_token: ctx 0 (0<=nC<2), 1 (2<=nC<4), 2 (4<=nC<8),
# -1 (chroma DC, 4:2:0). Entries: (TotalCoeff, TrailingOnes) -> (len, bits).
_CT_TABLES: dict[int, dict[tuple[int, int], tuple[int, int]]] = {
    0: {
        (0, 0): (1, 1),
        (1, 0): (6, 5), (1, 1): (2, 1),
        (2, 0): (8, 7), (2, 1): (6, 4), (2, 2): (3, 1),
        (3, 0): (9, 7), (3, 1): (8, 6), (3, 2): (7, 5), (3, 3): (5, 3),
        (4, 0): (10, 7), (4, 1): (9, 6), (4, 2): (8, 5), (4, 3): (6, 3),
        (5, 0): (11, 7), (5, 1): (10, 6), (5, 2): (9, 5), (5, 3): (7, 4),
        (6, 0): (13, 15), (6, 1): (11, 6), (6, 2): (10, 5), (6, 3): (8, 4),
        (7, 0): (13, 11), (7, 1): (13, 14), (7, 2): (11, 5), (7, 3): (9, 4),
        (8, 0): (13, 8), (8, 1): (13, 10), (8, 2): (13, 13), (8, 3): (10, 4),
        (9, 0): (14, 15), (9, 1): (14, 14), (9, 2): (13, 9), (9, 3): (11, 4),
        (10, 0): (14, 11), (10, 1): (14, 10), (10, 2): (14, 13),
        (10, 3): (13, 12),
        (11, 0): (15, 15), (11, 1): (15, 14), (11, 2): (14, 9),
        (11, 3): (14, 8),
        (12, 0): (15, 11), (12, 1): (15, 10), (12, 2): (15, 13),
        (12, 3): (14, 12),
        (13, 0): (16, 15), (13, 1): (15, 1), (13, 2): (15, 9),
        (13, 3): (15, 12),
        (14, 0): (16, 11), (14, 1): (16, 14), (14, 2): (16, 13),
        (14, 3): (15, 8),
        (15, 0): (16, 7), (15, 1): (16, 10), (15, 2): (16, 9),
        (15, 3): (16, 12),
        (16, 0): (16, 4), (16, 1): (16, 6), (16, 2): (16, 5),
        (16, 3): (16, 8),
    },
    1: {
        (0, 0): (2, 0b11),
        (1, 0): (6, 0b001011), (1, 1): (2, 0b10),
        (2, 0): (6, 0b000111), (2, 1): (5, 0b00111), (2, 2): (3, 0b011),
        (3, 0): (7, 0b0000111), (3, 1): (6, 0b001010),
        (3, 2): (6, 0b001001), (3, 3): (4, 0b0101),
        (4, 0): (8, 0b00000111), (4, 1): (6, 0b000110),
        (4, 2): (6, 0b000101), (4, 3): (4, 0b0100),
        (5, 0): (8, 0b00000100), (5, 1): (7, 0b0000110),
        (5, 2): (7, 0b0000101), (5, 3): (5, 0b00110),
        (6, 0): (9, 0b000000111), (6, 1): (8, 0b00000110),
        (6, 2): (8, 0b00000101), (6, 3): (6, 0b001000),
        (7, 0): (11, 0b00000001111), (7, 1): (9, 0b000000110),
        (7, 2): (9, 0b000000101), (7, 3): (6, 0b000100),
        (8, 0): (11, 0b00000001011), (8, 1): (11, 0b00000001110),
        (8, 2): (11, 0b00000001101), (8, 3): (7, 0b0000100),
        (9, 0): (12, 0b000000001111), (9, 1): (11, 0b00000001010),
        (9, 2): (11, 0b00000001001), (9, 3): (9, 0b000000100),
        (10, 0): (12, 0b000000001011), (10, 1): (12, 0b000000001110),
        (10, 2): (12, 0b000000001101), (10, 3): (11, 0b00000001100),
        (11, 0): (12, 0b000000001000), (11, 1): (12, 0b000000001010),
        (11, 2): (12, 0b000000001001), (11, 3): (11, 0b00000001000),
        (12, 0): (13, 15), (12, 1): (13, 14), (12, 2): (13, 13),
        (12, 3): (12, 12),
        (13, 0): (13, 11), (13, 1): (13, 10), (13, 2): (13, 9),
        (13, 3): (13, 8),
        (14, 0): (13, 7), (14, 1): (14, 11), (14, 2): (13, 6),
        (14, 3): (13, 1),
        (15, 0): (14, 9), (15, 1): (14, 8), (15, 2): (14, 10),
        (15, 3): (14, 4),
        (16, 0): (14, 7), (16, 1): (14, 6), (16, 2): (14, 5),
        (16, 3): (14, 0),
    },
    2: {
        (0, 0): (4, 15),
        (1, 0): (6, 15), (1, 1): (4, 14),
        (2, 0): (6, 11), (2, 1): (5, 15), (2, 2): (4, 13),
        (3, 0): (6, 8), (3, 1): (5, 12), (3, 2): (5, 14), (3, 3): (4, 12),
        (4, 0): (7, 15), (4, 1): (5, 10), (4, 2): (5, 11), (4, 3): (4, 11),
        (5, 0): (7, 11), (5, 1): (5, 8), (5, 2): (5, 9), (5, 3): (4, 10),
        (6, 0): (7, 9), (6, 1): (6, 14), (6, 2): (6, 13), (6, 3): (4, 9),
        (7, 0): (7, 8), (7, 1): (6, 10), (7, 2): (6, 9), (7, 3): (4, 8),
        (8, 0): (8, 15), (8, 1): (7, 14), (8, 2): (7, 13), (8, 3): (5, 13),
        (9, 0): (8, 11), (9, 1): (8, 14), (9, 2): (7, 10), (9, 3): (6, 12),
        (10, 0): (9, 15), (10, 1): (8, 10), (10, 2): (8, 13),
        (10, 3): (7, 12),
        (11, 0): (9, 11), (11, 1): (9, 14), (11, 2): (8, 9),
        (11, 3): (8, 12),
        (12, 0): (9, 8), (12, 1): (9, 10), (12, 2): (9, 13),
        (12, 3): (8, 8),
        (13, 0): (10, 13), (13, 1): (9, 7), (13, 2): (9, 9),
        (13, 3): (9, 12),
        (14, 0): (10, 12), (14, 1): (10, 11), (14, 2): (10, 10),
        (14, 3): (10, 8),
        (15, 0): (10, 5), (15, 1): (10, 4), (15, 2): (10, 3),
        (15, 3): (10, 6),
        (16, 0): (10, 1), (16, 1): (10, 2), (16, 2): (10, 7),
        (16, 3): (10, 0),
    },
    -1: {  # chroma DC (4:2:0), maxNumCoeff 4
        (0, 0): (2, 0b01),
        (1, 0): (6, 0b000111), (1, 1): (1, 0b1),
        (2, 0): (6, 0b000100), (2, 1): (6, 0b000110), (2, 2): (3, 0b001),
        (3, 0): (6, 0b000011), (3, 1): (7, 0b0000011),
        (3, 2): (7, 0b0000010), (3, 3): (6, 0b000101),
        (4, 0): (6, 0b000010), (4, 1): (8, 0b00000011),
        (4, 2): (8, 0b00000010), (4, 3): (7, 0b0000000),
    },
}

# Table 9-7/9-8 total_zeros for 4x4 blocks, by TotalCoeff 1..15:
# list index = total_zeros -> (len, bits)
_TZ_TABLES: dict[int, list[tuple[int, int]]] = {
    1: [(1, 0b1), (3, 0b011), (3, 0b010), (4, 0b0011), (4, 0b0010),
        (5, 0b00011), (5, 0b00010), (6, 0b000011), (6, 0b000010),
        (7, 0b0000011), (7, 0b0000010), (8, 0b00000011), (8, 0b00000010),
        (9, 0b000000011), (9, 0b000000010), (9, 0b000000001)],
    2: [(3, 0b111), (3, 0b110), (3, 0b101), (3, 0b100), (3, 0b011),
        (4, 0b0101), (4, 0b0100), (4, 0b0011), (4, 0b0010), (5, 0b00011),
        (5, 0b00010), (6, 0b000011), (6, 0b000010), (6, 0b000001),
        (6, 0b000000)],
    3: [(4, 0b0101), (3, 0b111), (3, 0b110), (3, 0b101), (4, 0b0100),
        (4, 0b0011), (3, 0b100), (3, 0b011), (4, 0b0010), (5, 0b00011),
        (5, 0b00010), (6, 0b000001), (5, 0b00001), (6, 0b000000)],
    4: [(5, 0b00011), (3, 0b111), (4, 0b0101), (4, 0b0100), (3, 0b110),
        (3, 0b101), (3, 0b100), (4, 0b0011), (3, 0b011), (4, 0b0010),
        (5, 0b00010), (5, 0b00001), (5, 0b00000)],
    5: [(4, 0b0101), (4, 0b0100), (4, 0b0011), (3, 0b111), (3, 0b110),
        (3, 0b101), (3, 0b100), (3, 0b011), (4, 0b0010), (5, 0b00001),
        (4, 0b0001), (5, 0b00000)],
    6: [(6, 0b000001), (5, 0b00001), (3, 0b111), (3, 0b110), (3, 0b101),
        (3, 0b100), (3, 0b011), (3, 0b010), (4, 0b0001), (3, 0b001),
        (6, 0b000000)],
    7: [(6, 0b000001), (5, 0b00001), (3, 0b101), (3, 0b100), (3, 0b011),
        (2, 0b11), (3, 0b010), (4, 0b0001), (3, 0b001), (6, 0b000000)],
    8: [(6, 0b000001), (4, 0b0001), (5, 0b00001), (3, 0b011), (2, 0b11),
        (2, 0b10), (3, 0b010), (3, 0b001), (6, 0b000000)],
    9: [(6, 0b000001), (6, 0b000000), (4, 0b0001), (2, 0b11), (2, 0b10),
        (3, 0b001), (2, 0b01), (5, 0b00001)],
    10: [(5, 0b00001), (5, 0b00000), (3, 0b001), (2, 0b11), (2, 0b10),
         (2, 0b01), (4, 0b0001)],
    11: [(4, 0b0000), (4, 0b0001), (3, 0b001), (3, 0b010), (1, 0b1),
         (3, 0b011)],
    12: [(4, 0b0000), (4, 0b0001), (2, 0b01), (1, 0b1), (3, 0b001)],
    13: [(3, 0b000), (3, 0b001), (1, 0b1), (2, 0b01)],
    14: [(2, 0b00), (2, 0b01), (1, 0b1)],
    15: [(1, 0b0), (1, 0b1)],
}

# Table 9-9(a) total_zeros for chroma DC (4:2:0), TotalCoeff 1..3
_TZ_CDC_TABLES: dict[int, list[tuple[int, int]]] = {
    1: [(1, 0b1), (2, 0b01), (3, 0b001), (3, 0b000)],
    2: [(1, 0b1), (2, 0b01), (2, 0b00)],
    3: [(1, 0b1), (1, 0b0)],
}

# Table 9-10 run_before, by min(zerosLeft, 7): list index = run -> (len, bits)
_RB_TABLES: dict[int, list[tuple[int, int]]] = {
    1: [(1, 0b1), (1, 0b0)],
    2: [(1, 0b1), (2, 0b01), (2, 0b00)],
    3: [(2, 0b11), (2, 0b10), (2, 0b01), (2, 0b00)],
    4: [(2, 0b11), (2, 0b10), (2, 0b01), (3, 0b001), (3, 0b000)],
    5: [(2, 0b11), (2, 0b10), (3, 0b011), (3, 0b010), (3, 0b001),
        (3, 0b000)],
    6: [(2, 0b11), (3, 0b000), (3, 0b001), (3, 0b011), (3, 0b010),
        (3, 0b101), (3, 0b100)],
    7: [(3, 0b111), (3, 0b110), (3, 0b101), (3, 0b100), (3, 0b011),
        (3, 0b010), (3, 0b001), (4, 0b0001), (5, 0b00001), (6, 0b000001),
        (7, 0b0000001), (8, 0b00000001), (9, 0b000000001),
        (10, 0b0000000001), (11, 0b00000000001)],
}

# 4x4 zigzag: scan position -> raster index
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# Dequant V (LevelScale) and quant MF by qp%6 and coefficient class
# (class 0: (0,0),(0,2),(2,0),(2,2); class 1: (1,1),(1,3),(3,1),(3,3);
# class 2: the rest)
_V = ((10, 16, 13), (11, 18, 14), (13, 20, 16),
      (14, 23, 18), (16, 25, 20), (18, 29, 23))
_MF = ((13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
       (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559))
_POS_CLASS = (0, 2, 0, 2, 2, 1, 2, 1, 0, 2, 0, 2, 2, 1, 2, 1)  # raster idx


def _vlc_decoders():
    """(len, bits) tables -> incremental decoders {(len, bits): symbol}."""
    out = {}
    for key, tbl in _CT_TABLES.items():
        out[("ct", key)] = {v: k for k, v in tbl.items()}
    for tc, tbl in _TZ_TABLES.items():
        out[("tz", tc)] = {v: i for i, v in enumerate(tbl)}
    for tc, tbl in _TZ_CDC_TABLES.items():
        out[("tzc", tc)] = {v: i for i, v in enumerate(tbl)}
    for zl, tbl in _RB_TABLES.items():
        out[("rb", zl)] = {v: i for i, v in enumerate(tbl)}
    return out


_VLC_DEC = _vlc_decoders()


def _read_vlc(r: "_BitReader", dec: dict):
    length, bits = 0, 0
    while length < 20:
        bits = (bits << 1) | r.u(1)
        length += 1
        sym = dec.get((length, bits))
        if sym is not None:
            return sym
    raise ValueError("bad CAVLC code")


# ------------------------------------------------------------------ encoder
def _sps(w: int, h: int) -> bytes:
    mbw = -(-w // 16)
    mbh = -(-h // 16)
    bw = _BitWriter()
    bw.u(66, 8)   # profile_idc: Baseline
    bw.u(0, 8)    # constraint flags + reserved
    bw.u(20, 8)   # level_idc 2.0
    bw.ue(0)      # sps_id
    bw.ue(0)      # log2_max_frame_num_minus4 -> frame_num is u(4)
    bw.ue(2)      # pic_order_cnt_type 2 (order = decode order)
    bw.ue(1)      # max_num_ref_frames: each P slice predicts from one
    bw.u(0, 1)    # gaps_in_frame_num_value_allowed
    bw.ue(mbw - 1)
    bw.ue(mbh - 1)
    bw.u(1, 1)    # frame_mbs_only
    bw.u(0, 1)    # direct_8x8_inference
    crop_r = mbw * 16 - w
    crop_b = mbh * 16 - h
    if crop_r or crop_b:
        bw.u(1, 1)
        bw.ue(0)
        bw.ue(crop_r // 2)  # 4:2:0: crop unit = 2 px
        bw.ue(0)
        bw.ue(crop_b // 2)
    else:
        bw.u(0, 1)
    bw.u(0, 1)    # vui_parameters_present
    bw.rbsp_trailing()
    return bytes(bw.buf)


def _pps(deblock_ctrl: bool = False) -> bytes:
    bw = _BitWriter()
    bw.ue(0)      # pps_id
    bw.ue(0)      # sps_id
    bw.u(0, 1)    # entropy_coding_mode: CAVLC
    bw.u(0, 1)    # pic_order_present
    bw.ue(0)      # num_slice_groups_minus1
    bw.ue(0)      # num_ref_idx_l0_active_minus1
    bw.ue(0)      # num_ref_idx_l1_active_minus1
    bw.u(0, 1)    # weighted_pred
    bw.u(0, 2)    # weighted_bipred_idc (B slices are out of scope)
    bw.se(0)      # pic_init_qp_minus26
    bw.se(0)      # pic_init_qs_minus26
    bw.se(0)      # chroma_qp_index_offset
    bw.u(1 if deblock_ctrl else 0, 1)  # deblocking_filter_control_present
    bw.u(0, 1)    # constrained_intra_pred
    bw.u(0, 1)    # redundant_pic_cnt_present
    bw.rbsp_trailing()
    return bytes(bw.buf)


# ---------------------------------------------- transforms & quantization
_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
               np.int32)  # Hadamard (DC transforms, 8.5.10)
_CF = np.array([[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
               np.int32)  # forward core transform (encoder side)

# Raster 4x4 of V / MF by coefficient class
_V4 = [np.array([_V[m][c] for c in _POS_CLASS], np.int32).reshape(4, 4)
       for m in range(6)]
_MF4 = [np.array([_MF[m][c] for c in _POS_CLASS], np.int32).reshape(4, 4)
        for m in range(6)]

# Table 9-4 (me mapping) coded_block_pattern for intra: codeNum -> cbp
_CBP_INTRA = (47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
              16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4, 8,
              17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)
_CBP_INTRA_INV = {v: i for i, v in enumerate(_CBP_INTRA)}

# luma 4x4 blkIdx -> (x, y) offset within the macroblock
_BLK_XY = ((0, 0), (4, 0), (0, 4), (4, 4), (8, 0), (12, 0), (8, 4), (12, 4),
           (0, 8), (4, 8), (0, 12), (4, 12), (8, 8), (12, 8), (8, 12),
           (12, 12))
# blkIdx whose above-right 4x4 neighbour inside the same MB is already
# decoded (see 8.3.1: raster-in-8x8 Z order)
_AR_OK_IN_MB = frozenset((2, 6, 8, 9, 10, 12, 14))


def _fwd4(x: np.ndarray) -> np.ndarray:
    return _CF @ x.astype(np.int32) @ _CF.T


def _inv4(d: np.ndarray) -> np.ndarray:
    """Scaled coefficients -> residual (8.5.12.2), incl. (x+32)>>6."""
    d = d.astype(np.int64)
    e0 = d[0] + d[2]
    e1 = d[0] - d[2]
    e2 = (d[1] >> 1) - d[3]
    e3 = d[1] + (d[3] >> 1)
    g = np.stack([e0 + e3, e1 + e2, e1 - e2, e0 - e3])
    d = g.T
    e0 = d[0] + d[2]
    e1 = d[0] - d[2]
    e2 = (d[1] >> 1) - d[3]
    e3 = d[1] + (d[3] >> 1)
    h = np.stack([e0 + e3, e1 + e2, e1 - e2, e0 - e3])
    return (h.T + 32) >> 6


def _quant4(w: np.ndarray, qp: int, intra: bool = True) -> np.ndarray:
    shift = 15 + qp // 6
    f = (1 << shift) // (3 if intra else 6)  # spec dead-zone rounding
    a = np.abs(w).astype(np.int64) * _MF4[qp % 6] + f
    return (np.sign(w) * (a >> shift)).astype(np.int32)


def _dequant4(levels: np.ndarray, qp: int) -> np.ndarray:
    return (levels.astype(np.int64) * _V4[qp % 6]) << (qp // 6)


def _thin(levels: np.ndarray, max_coeffs: int) -> np.ndarray:
    """Encoder-side coefficient thinning: keep the max_coeffs
    largest-|level| coefficients (ties -> lower scan index). A legal
    encoder decision that keeps every block within the VLC-table region
    the round-trip tests exercise."""
    flat = levels.ravel()
    nz = np.nonzero(flat)[0]
    if len(nz) <= max_coeffs:
        return levels
    order = sorted(nz, key=lambda i: (-abs(int(flat[i])), i))
    out = np.zeros_like(flat)
    for i in order[:max_coeffs]:
        out[i] = flat[i]
    return out.reshape(levels.shape)


# ------------------------------------------------ chroma (4:2:0) coding
# Table 8-15: QPc from qPI (chroma_qp_index_offset is 0 in the in-repo
# PPS, so qPI == the luma QP)
_QPC_TAB = tuple(range(30)) + (29, 30, 31, 32, 32, 33, 34, 34, 35, 35,
                               36, 36, 37, 37, 37, 38, 38, 38, 39, 39,
                               39, 39)


def _qpc(qp_y: int) -> int:
    return _QPC_TAB[min(51, max(0, qp_y))]


_H2 = np.array([[1, 1], [1, -1]], np.int32)  # 2x2 chroma DC Hadamard


def _quant_dc2(f: np.ndarray, qp: int, intra: bool = True) -> np.ndarray:
    """Encoder chroma-DC quant (mirror of 8.5.11: the forward Hadamard
    carries a 4x gain closed by the inverse's >>1 scaling, hence the
    doubled dead-zone and the +1 shift)."""
    shift = 15 + qp // 6
    fdz = 2 * ((1 << shift) // (3 if intra else 6))
    a = np.abs(f).astype(np.int64) * _MF[qp % 6][0] + fdz
    return (np.sign(f) * (a >> (shift + 1))).astype(np.int32)


def _dequant_dc2(lv: np.ndarray, qp: int) -> np.ndarray:
    """8.5.11.2 (4:2:0): inverse 2x2 Hadamard, then dcC = (f*LS << qp/6)
    >> 5 with LevelScale = 16*V — in this file's convention (V tables
    without the x16 weightScale) that is (f*V << qp/6) >> 1."""
    f = _H2.astype(np.int64) @ lv.astype(np.int64) @ _H2
    return (f * _V[qp % 6][0] << (qp // 6)) >> 1


# chroma DC 2x2 coding order: raster c00 c01 c10 c11 (9.2, 4:2:0)
def _scan_cdc(blk: np.ndarray) -> list[int]:
    return [int(v) for v in blk.ravel()]


def _unscan_cdc(scan: list[int]) -> np.ndarray:
    return np.array(scan, np.int32).reshape(2, 2)


def _pred_chroma8(cp: np.ndarray, cmx: int, cmy: int, mode: int,
                  al: bool, aa: bool) -> np.ndarray:
    """8.3.4: 8x8 chroma intra prediction on a half-res component plane.
    Modes: 0 DC (per-4x4-quadrant neighbour rules), 1 horizontal,
    2 vertical, 3 plane (8.3.4.4, r7 — needs both neighbours)."""
    px, py = cmx * 8, cmy * 8
    L = cp[py:py + 8, px - 1].astype(np.int32) if al else None
    A = cp[py - 1, px:px + 8].astype(np.int32) if aa else None
    p = np.empty((8, 8), np.int32)
    if mode == 0:
        for qy in (0, 4):
            for qx in (0, 4):
                lsum = int(L[qy:qy + 4].sum()) if al else None
                asum = int(A[qx:qx + 4].sum()) if aa else None
                if qx == qy:  # corner blocks prefer both neighbours
                    if al and aa:
                        v = (lsum + asum + 4) >> 3
                    elif aa:
                        v = (asum + 2) >> 2
                    elif al:
                        v = (lsum + 2) >> 2
                    else:
                        v = 128
                elif qx > qy:  # top-right: prefer above
                    v = (asum + 2) >> 2 if aa else (
                        (lsum + 2) >> 2 if al else 128)
                else:  # bottom-left: prefer left
                    v = (lsum + 2) >> 2 if al else (
                        (asum + 2) >> 2 if aa else 128)
                p[qy:qy + 4, qx:qx + 4] = v
    elif mode == 1:
        if not al:
            raise ValueError("chroma H pred without left neighbour")
        p[:] = L[:, None]
    elif mode == 2:
        if not aa:
            raise ValueError("chroma V pred without above neighbour")
        p[:] = A
    elif mode == 3:
        if not (al and aa):
            raise ValueError("chroma plane pred without both neighbours")
        X = int(cp[py - 1, px - 1])
        hh = sum((x + 1) * (int(A[4 + x])
                            - (int(A[2 - x]) if 2 - x >= 0 else X))
                 for x in range(4))
        vv = sum((y + 1) * (int(L[4 + y])
                            - (int(L[2 - y]) if 2 - y >= 0 else X))
                 for y in range(4))
        a = 16 * (int(L[7]) + int(A[7]))
        b = (17 * hh + 16) >> 5
        c = (17 * vv + 16) >> 5
        yy, xx = np.mgrid[0:8, 0:8]
        p[:] = np.clip((a + b * (xx - 3) + c * (yy - 3) + 16) >> 5, 0, 255)
    else:
        raise ValueError(f"bad chroma pred mode {mode}")
    return p


def _pick_chroma_mode(crec, csrc_mb, cmx, cmy, al, aa):
    """Encoder chroma-mode decision (r7): best SSD over the available
    modes {DC, H, V, plane}, DC-first tie-break so flat (gray) sources
    keep emitting mode 0 and reproduce the earlier bitstreams."""
    best = None
    for mode in (0, 1, 2, 3):
        if mode == 1 and not al:
            continue
        if mode == 2 and not aa:
            continue
        if mode == 3 and not (al and aa):
            continue
        pred = np.stack([_pred_chroma8(crec[ci], cmx, cmy, mode, al, aa)
                         for ci in range(2)])
        ssd = int(((csrc_mb.astype(np.int32) - pred) ** 2).sum())
        if best is None or ssd < best[0]:
            best = (ssd, mode, pred)
    return best[1], best[2]


def _interp_chroma(cref: np.ndarray, px: int, py: int, mvx: int, mvy: int,
                   w: int = 8, h: int = 8) -> np.ndarray:
    """8.4.2.2.2: w x h chroma MC block on the half-res plane. The luma
    quarter-pel MV is an eighth-pel chroma MV; bilinear weights with
    (+32)>>6 rounding, edge-clamped."""
    H, W = cref.shape
    ix, fx = mvx >> 3, mvx & 7
    iy, fy = mvy >> 3, mvy & 7
    x0, y0 = px + ix, py + iy
    xs = np.clip(np.arange(x0, x0 + w + 1), 0, W - 1)
    ys = np.clip(np.arange(y0, y0 + h + 1), 0, H - 1)
    win = cref[np.ix_(ys, xs)].astype(np.int32)
    A = win[:h, :w]
    B = win[:h, 1:]
    C = win[1:, :w]
    D = win[1:, 1:]
    return ((8 - fx) * (8 - fy) * A + fx * (8 - fy) * B
            + (8 - fx) * fy * C + fx * fy * D + 32) >> 6


def _encode_chroma_mb(csrc, cpred, qp_y, intra, max_coeffs=15):
    """Quantize one MB's chroma residual (both components).

    csrc/cpred: (2, 8, 8) source and prediction.
    Returns (cbpc, per-component dict) where each component carries the
    2x2 DC levels, the 4 AC level blocks, and the RECONSTRUCTED 8x8 —
    built with the decoder's exact dequant path, so decode == recon."""
    qc = _qpc(qp_y)
    comps = []
    any_dc = any_ac = False
    for ci in range(2):
        resid = csrc[ci].astype(np.int32) - cpred[ci]
        dcs = np.empty((2, 2), np.int64)
        acs = []
        for blk in range(4):
            ox, oy = (blk % 2) * 4, (blk // 2) * 4
            wblk = _fwd4(resid[oy:oy + 4, ox:ox + 4])
            dcs[blk // 2, blk % 2] = wblk[0, 0]
            lv = wblk.copy()
            lv[0, 0] = 0
            lv = _thin(_quant4(lv, qc, intra=intra), max_coeffs)
            lv[0, 0] = 0  # DC rides in the 2x2 Hadamard block
            acs.append(lv)
        dc_lv = _quant_dc2(_H2.astype(np.int64) @ dcs @ _H2, qc,
                           intra=intra)
        any_dc |= bool(np.any(dc_lv))
        any_ac |= any(np.any(a) for a in acs)
        comps.append({"dc": dc_lv, "ac": acs})
    cbpc = 2 if any_ac else (1 if any_dc else 0)
    # reconstruct exactly like the decoder, honouring cbpc semantics
    for ci in range(2):
        c = comps[ci]
        dcv = (_dequant_dc2(c["dc"], qc) if cbpc >= 1
               else np.zeros((2, 2), np.int64))
        rec = cpred[ci].copy()
        nnz_blk = []
        for blk in range(4):
            ox, oy = (blk % 2) * 4, (blk // 2) * 4
            if cbpc == 2:
                d = _dequant4(c["ac"][blk], qc)
                nnz_blk.append(int(np.count_nonzero(c["ac"][blk])))
            else:
                d = np.zeros((4, 4), np.int64)
                nnz_blk.append(0)
            d[0, 0] = dcv[blk // 2, blk % 2]
            rec[oy:oy + 4, ox:ox + 4] += _inv4(d).astype(np.int32)
        np.clip(rec, 0, 255, rec)
        c["recon"] = rec.astype(np.uint8)
        c["nnz"] = nnz_blk
    return cbpc, comps


def _write_chroma_residual(bw, cbpc, comps, nnz_c, mx, my):
    """CAVLC chroma residual serialization (DC both components, then AC
    both components) + TotalCoeff context upkeep — the exact mirror of
    _decode_chroma_residual."""
    if cbpc == 0:
        nnz_c[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0
        return
    for ci in range(2):
        _encode_residual(bw, _scan_cdc(comps[ci]["dc"]), -1)
    if cbpc == 2:
        for ci in range(2):
            for blk in range(4):
                bx, by = mx * 2 + blk % 2, my * 2 + blk // 2
                nc = _nc_chroma(nnz_c[ci], bx, by)
                _encode_residual(bw, _scan15(comps[ci]["ac"][blk]), nc)
                nnz_c[ci, by, bx] = comps[ci]["nnz"][blk]
    else:
        nnz_c[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0


def _decode_chroma_residual(r, cbpc, nnz_c, mx, my, qp_y):
    """Parse one MB's chroma residual and return the (2, 8, 8) int32
    RESIDUAL planes (inverse-transformed, ready to add to the chroma
    prediction). Replaces the parse-only path now that chroma pixels
    reconstruct for real (r7)."""
    out = np.zeros((2, 8, 8), np.int32)
    if cbpc == 0:
        nnz_c[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0
        return out
    qc = _qpc(qp_y)
    dcvs = []
    for _ci in range(2):
        dc_lv = _unscan_cdc(_decode_residual(r, -1, 4))
        dcvs.append(_dequant_dc2(dc_lv, qc))
    for ci in range(2):
        for blk in range(4):
            ox, oy = (blk % 2) * 4, (blk // 2) * 4
            bx, by = mx * 2 + blk % 2, my * 2 + blk // 2
            if cbpc == 2:
                nc = _nc_chroma(nnz_c[ci], bx, by)
                lv = _unscan15(_decode_residual(r, nc, 15))
                nnz_c[ci, by, bx] = int(np.count_nonzero(lv))
                d = _dequant4(lv, qc)
            else:
                nnz_c[ci, by, bx] = 0
                d = np.zeros((4, 4), np.int64)
            d[0, 0] = dcvs[ci][blk // 2, blk % 2]
            out[ci, oy:oy + 4, ox:ox + 4] = _inv4(d)
    return out


# --------------------------------------- multi-slice pictures (r7, 7.3.3/7.4.3)
# Active slice's first macroblock ROW. Neighbour availability (intra
# prediction, nC contexts, MV prediction) treats
# macroblocks above this row as unavailable — the 8.x "neighbouring
# macroblock in a different slice" rule, specialized to the in-repo
# restriction that slices cover whole MB rows (first_mb_in_slice is a
# multiple of PicWidthInMbs; arbitrary offsets raise a ValueError at
# parse). A module global rather than a threaded parameter: every slice
# entry point (encoders AND decoders) sets it unconditionally, so no
# value leaks between slices, and codec calls are single-threaded
# within a Python worker process.
_SLICE_TOP = 0


def _set_slice_top(row: int) -> None:
    global _SLICE_TOP
    _SLICE_TOP = row


class _ChromaState:
    """Per-slice chroma decode state: recon planes (start at mid-grey,
    as intra DC prediction with no neighbours yields), per-component AC
    TotalCoeff grid for CAVLC nC, and the reference chroma planes for
    inter slices."""

    def __init__(self, mbw, mbh, ref=None):
        self.planes = np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
        self.nnz = np.zeros((2, mbh * 2, mbw * 2), np.int32)
        self.ref = ref  # the (2, h/2, w/2) reference plane pair

    def mc(self, ci, mx, my, mv):
        return _interp_chroma(self.ref[ci], mx * 8, my * 8, mv[0], mv[1])

    def store(self, ci, mx, my, block):
        self.planes[ci, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = \
            np.clip(block, 0, 255).astype(np.uint8)


# --------------------------------------------------------- CAVLC residual
def _write_vlc(bw: _BitWriter, entry: tuple[int, int]) -> None:
    bw.u(entry[1], entry[0])


def _ct_key(nC: int) -> int:
    if nC < 0:
        return -1
    if nC < 2:
        return 0
    if nC < 4:
        return 1
    if nC < 8:
        return 2
    return 8  # FLC


def _write_coeff_token(bw: _BitWriter, nC: int, tc: int, t1: int) -> None:
    k = _ct_key(nC)
    if k == 8:
        # 6-bit FLC: (TotalCoeff-1)<<2 | TrailingOnes, except TC=0 -> 3
        bw.u(3 if tc == 0 else ((tc - 1) << 2) | t1, 6)
    else:
        _write_vlc(bw, _CT_TABLES[k][(tc, t1)])


def _read_coeff_token(r: _BitReader, nC: int) -> tuple[int, int]:
    k = _ct_key(nC)
    if k == 8:
        v = r.u(6)
        if v == 3:
            return 0, 0
        return (v >> 2) + 1, v & 3
    return _read_vlc(r, _VLC_DEC[("ct", k)])


def _encode_residual(bw: _BitWriter, scan: list[int], nC: int) -> int:
    """Coefficients in scan order -> CAVLC bits. Returns TotalCoeff."""
    n = len(scan)
    nz = [i for i, v in enumerate(scan) if v]
    tc = len(nz)
    t1 = 0
    while t1 < min(3, tc) and abs(scan[nz[tc - 1 - t1]]) == 1:
        t1 += 1
    _write_coeff_token(bw, nC, tc, t1)
    if tc == 0:
        return 0
    for i in range(t1):  # trailing-one signs, high freq first
        bw.u(1 if scan[nz[tc - 1 - i]] < 0 else 0, 1)
    sl = 1 if tc > 10 and t1 < 3 else 0
    rest = [scan[j] for j in reversed(nz[: tc - t1])]
    for i, v in enumerate(rest):
        lc = 2 * v - 2 if v > 0 else -2 * v - 1
        if i == 0 and t1 < 3:
            lc -= 2
        if sl == 0 and lc < 14:
            bw.u(0, lc)
            bw.u(1, 1)
        elif sl == 0 and lc < 30:
            bw.u(0, 14)
            bw.u(1, 1)
            bw.u(lc - 14, 4)
        elif sl > 0 and lc < (15 << sl):
            bw.u(0, lc >> sl)
            bw.u(1, 1)
            bw.u(lc & ((1 << sl) - 1), sl)
        else:
            # escape: prefix 15 carries a 12-bit suffix; larger levels use
            # the level_prefix >= 16 extension (suffix width prefix-3,
            # offset (1<<(prefix-3)) - 4096) — mirrors the decoder exactly
            rem = lc - 30 if sl == 0 else lc - (15 << sl)
            if rem < 4096:
                bw.u(0, 15)
                bw.u(1, 1)
                bw.u(rem, 12)
            else:
                p = (rem + 4096).bit_length() + 2
                bw.u(0, p)
                bw.u(1, 1)
                bw.u(rem + 4096 - (1 << (p - 3)), p - 3)
        if sl == 0:
            sl = 1
        if abs(v) > (3 << (sl - 1)) and sl < 6:
            sl += 1
    tz = nz[-1] + 1 - tc  # zeros before the last nonzero
    if tc < n:
        if nC < 0:
            _write_vlc(bw, _TZ_CDC_TABLES[tc][tz])
        else:
            _write_vlc(bw, _TZ_TABLES[tc][tz])
    zeros_left = tz
    for j in range(tc - 1, 0, -1):  # runs, high freq first
        if zeros_left <= 0:
            break
        run = nz[j] - nz[j - 1] - 1
        _write_vlc(bw, _RB_TABLES[min(zeros_left, 7)][run])
        zeros_left -= run
    return tc


def _decode_residual(r: _BitReader, nC: int, n: int) -> list[int]:
    """CAVLC bits -> coefficients in scan order (length n)."""
    tc, t1 = _read_coeff_token(r, nC)
    out = [0] * n
    if tc == 0:
        return out
    if tc > n:
        raise ValueError("corrupt CAVLC: TotalCoeff > maxNumCoeff")
    levels = []
    for _ in range(t1):
        levels.append(-1 if r.u(1) else 1)
    sl = 1 if tc > 10 and t1 < 3 else 0
    for i in range(tc - t1):
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 31:
                raise ValueError("corrupt CAVLC level prefix")
        size = sl
        if prefix == 14 and sl == 0:
            size = 4
        elif prefix >= 15:
            size = prefix - 3
        lc = min(15, prefix) << sl
        if size:
            lc += r.u(size)
        if prefix >= 15 and sl == 0:
            lc += 15
        if prefix >= 16:
            lc += (1 << (prefix - 3)) - 4096
        if i == 0 and t1 < 3:
            lc += 2
        v = (lc + 2) >> 1 if lc % 2 == 0 else (-lc - 1) >> 1
        levels.append(v)
        if sl == 0:
            sl = 1
        if abs(v) > (3 << (sl - 1)) and sl < 6:
            sl += 1
    if tc < n:
        if nC < 0:
            tz = _read_vlc(r, _VLC_DEC[("tzc", tc)])
        else:
            tz = _read_vlc(r, _VLC_DEC[("tz", tc)])
    else:
        tz = 0
    zeros_left = tz
    runs = []
    for i in range(tc - 1):
        if zeros_left > 0:
            run = _read_vlc(r, _VLC_DEC[("rb", min(zeros_left, 7))])
        else:
            run = 0
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)
    idx = tc + tz - 1
    for i, v in enumerate(levels):
        if idx < 0 or idx >= n:
            raise ValueError("corrupt CAVLC run/zeros")
        out[idx] = v
        idx -= 1 + runs[i]
    return out


def _scan16(block: np.ndarray) -> list[int]:
    flat = block.ravel()
    return [int(flat[z]) for z in _ZIGZAG]


def _unscan16(scan: list[int]) -> np.ndarray:
    out = np.zeros(16, np.int32)
    for s, z in enumerate(_ZIGZAG):
        out[z] = scan[s]
    return out.reshape(4, 4)


def _scan15(block: np.ndarray) -> list[int]:
    flat = block.ravel()
    return [int(flat[z]) for z in _ZIGZAG[1:]]


def _unscan15(scan: list[int]) -> np.ndarray:
    out = np.zeros(16, np.int32)
    for s, z in enumerate(_ZIGZAG[1:]):
        out[z] = scan[s]
    return out.reshape(4, 4)


# --------------------------------------------------------- intra prediction
def _pred4(plane, px, py, mode, al, aa, aar, aal):
    """8.3.1.2: one 4x4 luma intra prediction (int32 4x4)."""
    L = plane[py:py + 4, px - 1].astype(np.int32) if al else None
    A = plane[py - 1, px:px + 4].astype(np.int32) if aa else None
    X = int(plane[py - 1, px - 1]) if aal else 0
    if aa:
        if aar:
            AR = plane[py - 1, px + 4:px + 8].astype(np.int32)
        else:
            AR = np.full(4, int(A[3]), np.int32)
        A8 = np.concatenate([A, AR])
    # corrupt streams can request a directional mode whose neighbours are
    # unavailable (conformant ones never do, 8.3.1.2.1) — errors-as-data
    if mode in (3, 7) and not aa:
        raise ValueError(f"intra mode {mode} without above neighbour")
    if mode in (4, 5, 6) and not (aa and al):
        raise ValueError(f"intra mode {mode} without both neighbours")
    if mode == 8 and not al:
        raise ValueError("intra mode 8 without left neighbour")
    p = np.empty((4, 4), np.int32)
    if mode == 0:  # vertical
        if not aa:
            raise ValueError("intra mode 0 without above neighbour")
        p[:] = A
    elif mode == 1:  # horizontal
        if not al:
            raise ValueError("intra mode 1 without left neighbour")
        p[:] = L[:, None]
    elif mode == 2:  # DC
        if aa and al:
            p[:] = (int(A.sum()) + int(L.sum()) + 4) >> 3
        elif aa:
            p[:] = (int(A.sum()) + 2) >> 2
        elif al:
            p[:] = (int(L.sum()) + 2) >> 2
        else:
            p[:] = 128
    elif mode == 3:  # diagonal down-left
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    p[y, x] = (A8[6] + 3 * A8[7] + 2) >> 2
                else:
                    p[y, x] = (A8[x + y] + 2 * A8[x + y + 1]
                               + A8[x + y + 2] + 2) >> 2
    elif mode == 4:  # diagonal down-right
        for y in range(4):
            for x in range(4):
                if x > y:
                    p[y, x] = (A8[x - y - 2] + 2 * A8[x - y - 1]
                               + A8[x - y] + 2) >> 2
                elif x < y:
                    p[y, x] = (L[y - x - 2] + 2 * L[y - x - 1]
                               + L[y - x] + 2) >> 2
                else:
                    p[y, x] = (A8[0] + 2 * X + L[0] + 2) >> 2
    elif mode == 5:  # vertical-right
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    p[y, x] = (A8[x - (y >> 1) - 1] + A8[x - (y >> 1)] + 1) >> 1
                elif z >= 0:
                    p[y, x] = (A8[x - (y >> 1) - 2] + 2 * A8[x - (y >> 1) - 1]
                               + A8[x - (y >> 1)] + 2) >> 2
                elif z == -1:
                    p[y, x] = (L[0] + 2 * X + A8[0] + 2) >> 2
                else:
                    p[y, x] = (L[y - 1] + 2 * L[y - 2] + L[y - 3] + 2) >> 2
    elif mode == 6:  # horizontal-down
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    p[y, x] = (L[y - (x >> 1) - 1] + L[y - (x >> 1)] + 1) >> 1
                elif z >= 0:
                    p[y, x] = (L[y - (x >> 1) - 2] + 2 * L[y - (x >> 1) - 1]
                               + L[y - (x >> 1)] + 2) >> 2
                elif z == -1:
                    p[y, x] = (A8[0] + 2 * X + L[0] + 2) >> 2
                else:
                    p[y, x] = (A8[x - 1] + 2 * A8[x - 2] + A8[x - 3] + 2) >> 2
    elif mode == 7:  # vertical-left
        for y in range(4):
            for x in range(4):
                if y % 2 == 0:
                    p[y, x] = (A8[x + (y >> 1)] + A8[x + (y >> 1) + 1] + 1) >> 1
                else:
                    p[y, x] = (A8[x + (y >> 1)] + 2 * A8[x + (y >> 1) + 1]
                               + A8[x + (y >> 1) + 2] + 2) >> 2
    elif mode == 8:  # horizontal-up
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z < 13 and z % 2 == 0:
                    p[y, x] = (L[y + (x >> 1)] + L[y + (x >> 1) + 1] + 1) >> 1
                elif z < 13:
                    p[y, x] = (L[y + (x >> 1)] + 2 * L[y + (x >> 1) + 1]
                               + L[y + (x >> 1) + 2] + 2) >> 2
                elif z == 13:
                    p[y, x] = (L[2] + 3 * L[3] + 2) >> 2
                else:
                    p[y, x] = L[3]
    else:
        raise ValueError(f"bad intra 4x4 mode {mode}")
    return p


def _pred16(plane, mx, my, mode, al, aa):
    """8.3.3: 16x16 luma intra prediction (int32 16x16)."""
    px, py = mx * 16, my * 16
    L = plane[py:py + 16, px - 1].astype(np.int32) if al else None
    A = plane[py - 1, px:px + 16].astype(np.int32) if aa else None
    p = np.empty((16, 16), np.int32)
    if mode == 0:
        if not aa:
            raise ValueError("I16 mode 0 without above neighbour")
        p[:] = A
    elif mode == 1:
        if not al:
            raise ValueError("I16 mode 1 without left neighbour")
        p[:] = L[:, None]
    elif mode == 2:
        if aa and al:
            p[:] = (int(A.sum()) + int(L.sum()) + 16) >> 5
        elif aa:
            p[:] = (int(A.sum()) + 8) >> 4
        elif al:
            p[:] = (int(L.sum()) + 8) >> 4
        else:
            p[:] = 128
    elif mode == 3:
        if not (aa and al):
            raise ValueError("I16 plane mode without neighbours")
        X = int(plane[py - 1, px - 1])
        hh = sum((x + 1) * (int(A[8 + x]) - (int(A[6 - x]) if 6 - x >= 0 else X))
                 for x in range(8))
        vv = sum((y + 1) * (int(L[8 + y]) - (int(L[6 - y]) if 6 - y >= 0 else X))
                 for y in range(8))
        a = 16 * (int(L[15]) + int(A[15]))
        b = (5 * hh + 32) >> 6
        c = (5 * vv + 32) >> 6
        for y in range(16):
            for x in range(16):
                p[y, x] = min(255, max(0, (a + b * (x - 7) + c * (y - 7)
                                           + 16) >> 5))
    else:
        raise ValueError(f"bad I16 pred mode {mode}")
    return p


def encode_idr_ipcm(gray: np.ndarray,
                    chroma: np.ndarray | None = None) -> bytes:
    """One frame -> IDR slice RBSP, all macroblocks I_PCM (bit-exact;
    `chroma` (2, h/2, w/2) writes real Cb/Cr samples, None writes
    constant 128)."""
    a = np.asarray(gray, np.uint8)
    h, w = a.shape
    mbw = -(-w // 16)
    mbh = -(-h // 16)
    pad = np.pad(a, ((0, mbh * 16 - h), (0, mbw * 16 - w)), mode="edge")
    cpad = _pad_chroma(chroma, mbw, mbh, h, w)
    bw = _BitWriter()
    bw.ue(0)      # first_mb_in_slice
    bw.ue(7)      # slice_type: I (all slices in picture)
    bw.ue(0)      # pps_id
    bw.u(0, 4)    # frame_num
    bw.ue(0)      # idr_pic_id
    # pic_order_cnt_type 2: nothing; dec_ref_pic_marking (IDR):
    bw.u(0, 1)    # no_output_of_prior_pics
    bw.u(0, 1)    # long_term_reference
    bw.se(0)      # slice_qp_delta
    for my in range(mbh):
        for mx in range(mbw):
            bw.ue(25)  # mb_type I_PCM
            bw.align()  # pcm_alignment_zero_bit(s)
            mb = pad[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
            bw.raw(mb.tobytes())
            for ci in range(2):  # Cb then Cr samples
                bw.raw(cpad[ci, my * 8:my * 8 + 8,
                            mx * 8:mx * 8 + 8].tobytes())
    bw.rbsp_trailing()
    return bytes(bw.buf)


def _mb_avail(blk, px, py, plane_w):
    """(left, above, above-right, above-left) availability for the 4x4
    luma block `blk` whose top-left sample is (px, py). Neighbours
    above the current slice's first MB row are unavailable (multi-
    slice pictures, r7: _SLICE_TOP is the active slice's top row)."""
    top = _SLICE_TOP * 16
    al = px > 0
    aa = py > top
    aal = al and aa
    if blk in _AR_OK_IN_MB:
        aar = True
    elif blk in (3, 7, 11, 13, 15):
        aar = False
    else:  # top row of the MB: needs the above MB row, within the plane
        aar = py > top and px + 8 <= plane_w
    return al, aa, aar, aal


def _pred_mode_for(modes, bx, by):
    """Predicted intra-4x4 mode (8.3.1.1): min(left, above); any
    unavailable or non-I4x4 neighbour counts as DC (2)."""
    ma = modes[by, bx - 1] if bx > 0 else -1
    mb = modes[by - 1, bx] if by > _SLICE_TOP * 4 else -1
    ma = 2 if ma < 0 else ma
    mb = 2 if mb < 0 else mb
    return min(ma, mb)


def _nc_luma(nnz, bx, by):
    a = int(nnz[by, bx - 1]) if bx > 0 else None
    b = int(nnz[by - 1, bx]) if by > _SLICE_TOP * 4 else None
    if a is not None and b is not None:
        return (a + b + 1) >> 1
    if a is not None:
        return a
    if b is not None:
        return b
    return 0


def _pad_chroma(chroma, mbw, mbh, h, w):
    """(2, ceil(h/2), ceil(w/2)) chroma source -> MB-grid-padded planes;
    None -> flat mid-grey (the gray-stream default, which quantizes to
    cbp_chroma 0 everywhere and reproduces the pre-r7 bitstreams)."""
    if chroma is None:
        return np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
    c = np.asarray(chroma, np.uint8)
    h2, w2 = (h + 1) // 2, (w + 1) // 2
    assert c.shape == (2, h2, w2), f"chroma must be (2, {h2}, {w2})"
    return np.stack([np.pad(c[ci], ((0, mbh * 8 - h2), (0, mbw * 8 - w2)),
                            mode="edge") for ci in range(2)])


def _slice_ranges(mbh: int, slice_rows: int | None) -> list:
    """MB-row ranges for multi-slice encoding (r7): None = one slice
    covering the picture (the pre-r7 shape, bit-identical), N = one
    slice per N MB rows."""
    if slice_rows is None:
        return [(0, mbh)]
    if slice_rows < 1:
        raise ValueError("slice_rows must be >= 1")
    return [(r, min(r + slice_rows, mbh))
            for r in range(0, mbh, slice_rows)]


def encode_idr_cavlc(gray: np.ndarray, qp: int = 10, max_coeffs: int = 16,
                     deblock: bool = False, full_recon: bool = False,
                     chroma: np.ndarray | None = None,
                     slice_rows: int | None = None):
    """One frame -> (IDR slice RBSP, reconstructed plane).

    CAVLC intra encoding: near-flat macroblocks go I_16x16 (DC pred,
    Hadamard-coded DC, zero AC); everything else I_4x4 with per-block
    best-of V/H/DC prediction and full CAVLC residuals. `chroma`
    (2, h/2, w/2) codes REAL 4:2:0 residuals (r7): chroma DC intra
    prediction, 2x2 Hadamard DC + AC levels, cbp_chroma in mb_type/cbp;
    None keeps the pre-r7 gray contract (cbp_chroma 0 throughout).
    Returns recon as luma, or (luma, chroma) when chroma was given.
    The returned recon is what ANY conformant decoder must produce —
    deblock=False writes disable_deblocking_filter_idc=1; deblock=True
    enables the in-loop filter (8.7) and returns the FILTERED plane
    (intra prediction still references unfiltered samples) — so
    decode == recon bit-exactly either way."""
    a = np.asarray(gray, np.uint8)
    h, w = a.shape
    mbw = -(-w // 16)
    mbh = -(-h // 16)
    src = np.pad(a, ((0, mbh * 16 - h), (0, mbw * 16 - w)), mode="edge")
    plane = np.zeros((mbh * 16, mbw * 16), np.uint8)
    plane_w = mbw * 16
    nnz = np.zeros((mbh * 4, mbw * 4), np.int32)
    modes = np.full((mbh * 4, mbw * 4), -1, np.int32)
    csrc = _pad_chroma(chroma, mbw, mbh, h, w)
    crec = np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
    nnz_c = np.zeros((2, mbh * 2, mbw * 2), np.int32)
    ch = (csrc, crec, nnz_c)

    rbsps = []
    for r0, r1 in _slice_ranges(mbh, slice_rows):
        _set_slice_top(r0)
        bw = _BitWriter()
        bw.ue(r0 * mbw)  # first_mb_in_slice (multi-slice pictures, r7)
        bw.ue(7)      # slice_type: I (all slices in picture)
        bw.ue(0)      # pps_id
        bw.u(0, 4)    # frame_num
        bw.ue(0)      # idr_pic_id
        bw.u(0, 1)    # no_output_of_prior_pics
        bw.u(0, 1)    # long_term_reference
        bw.se(qp - 26)  # slice_qp_delta (pic_init_qp is 26)
        # disable_deblocking_filter_idc (PPS carries the control flag)
        bw.ue(0 if deblock else 1)
        if deblock:
            bw.se(0)  # slice_alpha_c0_offset_div2
            bw.se(0)  # slice_beta_offset_div2

        for my in range(r0, r1):
            for mx in range(mbw):
                smb = src[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16]
                done = False
                if int(smb.max()) - int(smb.min()) <= 8:
                    done = _encode_mb_i16(bw, smb, plane, mx, my, qp, nnz,
                                          modes, max_coeffs, ch)
                if not done:
                    _encode_mb_i4(bw, smb, plane, mx, my, qp, nnz, modes,
                                  max_coeffs, plane_w, ch)
        bw.rbsp_trailing()
        rbsps.append(bytes(bw.buf))
    _set_slice_top(0)
    out = plane
    if deblock and qp >= 16:
        out = _deblock_luma(plane, np.full((mbh, mbw), qp, np.int32))
        crec = _deblock_chroma(crec, np.full((mbh, mbw), qp, np.int32))
    y = out if full_recon else out[:h, :w].copy()
    rb = rbsps[0] if slice_rows is None else rbsps
    if chroma is None:
        return rb, y
    crop = crec if full_recon else crec[:, :(h + 1) // 2, :(w + 1) // 2].copy()
    return rb, (y, crop)


def _encode_mb_i16(bw, smb, plane, mx, my, qp, nnz, modes, max_coeffs, ch):
    """Try I_16x16 DC: commit only when all AC quantize to zero and the
    DC block stays inside the thinning budget. Returns True on commit."""
    al = mx > 0
    aa = my > _SLICE_TOP
    pred = _pred16(plane, mx, my, 2, al, aa)
    resid = smb.astype(np.int32) - pred
    dcs = np.empty((4, 4), np.int64)
    for by in range(4):
        for bx in range(4):
            wblk = _fwd4(resid[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
            if np.any(_quant4(wblk * 1, qp)[_AC_MASK]):
                return False  # AC energy: let I_4x4 handle it
            dcs[by, bx] = wblk[0, 0]
    # DC Hadamard + quant: halve the Hadamard output, then quantize with
    # doubled rounding and a +1 shift (encoder mirror of 8.5.10, whose
    # inverse carries a 1/64 DC normalization on top of the per-block 1/64)
    had = _H4 @ dcs @ _H4
    shift = 15 + qp // 6
    f2 = 2 * ((1 << shift) // 3)
    mf00 = _MF[qp % 6][0]
    dc_lv = (np.sign(had) * (((np.abs(had) >> 1) * mf00 + f2) >> (shift + 1))
             ).astype(np.int32)
    # (total forward divisor 2^(qbits+2); the inverse's V<<(qp/6) >> 2 and
    # the per-block 1/64 close the 256x Hadamard round-trip gain exactly)
    if np.count_nonzero(dc_lv) > max_coeffs:
        return False
    # chroma: best-mode intra prediction + residual (r7); flat-128
    # sources pick DC with zero residual and reproduce the pre-r7 bits
    csrc, crec, nnz_c = ch
    csrc_mb = csrc[:, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
    icp, cpred = _pick_chroma_mode(crec, csrc_mb, mx, my, al, aa)
    cbpc, comps = _encode_chroma_mb(csrc_mb, cpred, qp, intra=True)
    # mb_type: 1 + pred(2) + 4*cbp_chroma + 12*(cbp_luma != 0 -> 0)
    bw.ue(1 + 2 + 4 * cbpc)
    bw.ue(icp)  # intra_chroma_pred_mode
    bw.se(0)   # mb_qp_delta (always present for I_16x16)
    nc = _nc_luma(nnz, mx * 4, my * 4)
    _encode_residual(bw, _scan16(dc_lv), nc)
    # reconstruct exactly like the decoder
    dcv = _i16_dc_dequant(dc_lv, qp)
    out = pred.copy()
    for by in range(4):
        for bx in range(4):
            d = np.zeros((4, 4), np.int64)
            d[0, 0] = dcv[by, bx]
            out[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += _inv4(d).astype(np.int32)
    np.clip(out, 0, 255, out)
    plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = out.astype(np.uint8)
    _write_chroma_residual(bw, cbpc, comps, nnz_c, mx, my)
    for ci in range(2):
        crec[ci, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = comps[ci]["recon"]
    nnz[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = 0  # AC TotalCoeff per block
    modes[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = -1  # not I4x4 -> DC for pred
    return True


_AC_MASK = np.ones((4, 4), bool)
_AC_MASK[0, 0] = False


def _i16_dc_dequant(dc_lv, qp):
    """8.5.10: inverse Hadamard + DC scaling (net V*2^(qp/6)/4)."""
    f = _H4 @ dc_lv.astype(np.int64) @ _H4
    v00 = _V[qp % 6][0]
    if qp >= 12:
        return (f * v00) << (qp // 6 - 2)
    return (f * v00 + (1 << (1 - qp // 6))) >> (2 - qp // 6)


def _encode_mb_i4(bw, smb, plane, mx, my, qp, nnz, modes, max_coeffs,
                  plane_w, ch, mb_type_code=0):
    """I_4x4 macroblock: best-of-V/H/DC prediction per 4x4 block, CAVLC
    residuals; recon is decoder-identical."""
    blocks = []  # (chosen_mode, scan, nC) in blkIdx order
    cbp = 0
    for blk in range(16):
        ox, oy = _BLK_XY[blk]
        px, py = mx * 16 + ox, my * 16 + oy
        bx, by = px // 4, py // 4
        al, aa, aar, aal = _mb_avail(blk, px, py, plane_w)
        sblk = smb[oy:oy + 4, ox:ox + 4].astype(np.int32)
        best = None
        for mode in (2, 0, 1):
            if mode == 0 and not aa:
                continue
            if mode == 1 and not al:
                continue
            p = _pred4(plane, px, py, mode, al, aa, aar, aal)
            ssd = int(((sblk - p) ** 2).sum())
            if best is None or ssd < best[0]:
                best = (ssd, mode, p)
        _, mode, pred = best
        lv = _thin(_quant4(_fwd4(sblk - pred), qp), max_coeffs)
        nc = _nc_luma(nnz, bx, by)
        scan = _scan16(lv)
        tc = int(np.count_nonzero(lv))
        if tc:
            cbp |= 1 << (blk >> 2)
        blocks.append((mode, scan, nc, tc))
        nnz[by, bx] = tc
        modes[by, bx] = mode
        rec = pred + _inv4(_dequant4(lv, qp)).astype(np.int32)
        np.clip(rec, 0, 255, rec)
        plane[py:py + 4, px:px + 4] = rec.astype(np.uint8)
    # chroma residual (r7): best-mode prediction from the recon plane;
    # a flat source picks DC / cbpc 0, reproducing the pre-r7 bitstream
    csrc, crec, nnz_c = ch
    csrc_mb = csrc[:, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
    icp, cpred = _pick_chroma_mode(crec, csrc_mb, mx, my, mx > 0,
                                   my > _SLICE_TOP)
    cbpc, comps = _encode_chroma_mb(csrc_mb, cpred, qp, intra=True)
    # serialize: mb_type, pred modes, chroma mode, cbp, qp_delta,
    # residuals
    bw.ue(mb_type_code)  # I_NxN (5 when inside a P slice)
    for blk in range(16):
        ox, oy = _BLK_XY[blk]
        bx, by = (mx * 16 + ox) // 4, (my * 16 + oy) // 4
        mode = blocks[blk][0]
        # predicted mode must use the FINAL modes grid state as the
        # decoder sees it: left/up blocks all precede in blkIdx
        # order, already set
        pm = _pred_mode_for_encoded(modes, bx, by, blk, mx, my)
        if mode == pm:
            bw.u(1, 1)
        else:
            bw.u(0, 1)
            bw.u(mode - (1 if mode > pm else 0), 3)
    bw.ue(icp)  # intra_chroma_pred_mode
    bw.ue(_CBP_INTRA_INV[cbp | (cbpc << 4)])
    if cbp | cbpc:
        bw.se(0)  # mb_qp_delta
    for blk in range(16):
        if cbp & (1 << (blk >> 2)):
            _, scan, nc, _tc = blocks[blk]
            _encode_residual(bw, scan, nc)
    _write_chroma_residual(bw, cbpc, comps, nnz_c, mx, my)
    for ci in range(2):
        crec[ci, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = comps[ci]["recon"]


def _pred_mode_for_encoded(modes, bx, by, blk, mx, my):
    """Same as _pred_mode_for, but a left/up neighbour INSIDE this MB that
    comes later in blkIdx order never happens (Z order guarantees it), so
    the grid state is exactly what the decoder has when parsing."""
    return _pred_mode_for(modes, bx, by)


def encode_p_cavlc(gray: np.ndarray, ref_full: np.ndarray, qp: int = 10,
                   max_coeffs: int = 16, frame_num: int = 1,
                   search: int = 8, deblock: bool = False,
                   chroma: np.ndarray | None = None,
                   cref: np.ndarray | None = None,
                   slice_rows: int | None = None):
    """One gray frame -> (P-slice RBSP, FULL reconstructed plane).

    Per macroblock: P_SKIP when the residual at the skip-predicted MV
    quantizes to all-zero; else P_L0_16x16 with an integer-pel full
    search (+/- `search` around the median predictor) and CAVLC inter
    residuals; intra (I_4x4-in-P) fallback when motion fails (SAD gate).
    `ref_full` is the previous frame's FULL (mb-aligned) recon plane,
    the slice's one L0 reference; `cref` its chroma pair (None: flat
    mid-grey, as a gray stream's references decode).
    decode == recon bit-exact, same contract as the intra encoder."""
    a = np.asarray(gray, np.uint8)
    h, w = a.shape
    mbw = -(-w // 16)
    mbh = -(-h // 16)
    assert ref_full.shape == (mbh * 16, mbw * 16), "reference plane mismatch"
    src = np.pad(a, ((0, mbh * 16 - h), (0, mbw * 16 - w)), mode="edge")
    plane = np.zeros((mbh * 16, mbw * 16), np.uint8)
    plane_w = mbw * 16
    nnz = np.zeros((mbh * 4, mbw * 4), np.int32)
    modes = np.full((mbh * 4, mbw * 4), -1, np.int32)
    mvs = _MvState(mbw, mbh)
    qp_map = np.full((mbh, mbw), qp, np.int32)
    csrc = _pad_chroma(chroma, mbw, mbh, h, w)
    if cref is None:
        cref = np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
    crec = np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
    nnz_c = np.zeros((2, mbh * 2, mbw * 2), np.int32)
    ch = (csrc, crec, nnz_c)

    def cmc(mv, parts=None):
        """(2, 8, 8) chroma MC prediction for one MB; `parts` is a list
        of (ox, oy, w, h, mv) luma-geometry partitions."""
        out = np.empty((2, 8, 8), np.int32)
        for ci in range(2):
            if parts is None:
                out[ci] = _interp_chroma(cref[ci], mx * 8, my * 8, *mv)
            else:
                for (ox, oy, pw, ph, pmv) in parts:
                    out[ci, oy // 2:(oy + ph) // 2,
                        ox // 2:(ox + pw) // 2] = _interp_chroma(
                            cref[ci], mx * 8 + ox // 2, my * 8 + oy // 2,
                            pmv[0], pmv[1], pw // 2, ph // 2)
        return out

    def _slice_bw(first_row):
        bw = _BitWriter()
        bw.ue(first_row * mbw)  # first_mb_in_slice (multi-slice, r7)
        bw.ue(5)      # slice_type: P (all slices in picture)
        bw.ue(0)      # pps_id
        bw.u(frame_num & 0xF, 4)
        bw.u(0, 1)    # num_ref_idx_active_override_flag
        bw.u(0, 1)    # ref_pic_list_modification_flag_l0
        bw.u(0, 1)    # adaptive_ref_pic_marking_mode_flag (sliding window)
        bw.se(qp - 26)
        bw.ue(0 if deblock else 1)  # disable_deblocking_filter_idc
        if deblock:
            bw.se(0)
            bw.se(0)
        return bw

    starts = dict(_slice_ranges(mbh, slice_rows))
    rbsps = []
    bw = None
    pending_skips = 0
    for my in range(mbh):
        if my in starts:  # new slice at this MB row (multi-slice, r7)
            if bw is not None:
                if pending_skips:
                    bw.ue(pending_skips)  # trailing skip run
                    pending_skips = 0
                bw.rbsp_trailing()
                rbsps.append(bytes(bw.buf))
            _set_slice_top(my)
            bw = _slice_bw(my)
        for mx in range(mbw):
            smb = src[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16].astype(np.int32)
            # --- P_SKIP candidate
            smv = mvs.skip_mv(mx, my)
            pred = _interp_luma(ref_full, mx * 16, my * 16, *smv)
            cpred_skip = cmc(smv)
            csrc_mb = csrc[:, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
            if _all_zero_quant(smb - pred, qp) and \
                    _chroma_zero(csrc_mb, cpred_skip, qp):
                pending_skips += 1
                plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = \
                    np.clip(pred, 0, 255).astype(np.uint8)
                for ci in range(2):
                    crec[ci, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = \
                        np.clip(cpred_skip[ci], 0, 255).astype(np.uint8)
                nnz[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = 0
                nnz_c[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0
                mvs.set_mb(mx, my, smv, 0)
                modes[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = -1
                continue
            # --- integer-pel full search around the median predictor
            mvp = mvs.mvp_16x16(mx, my)
            sad, mv, pred = _search_block(ref_full, smb, mx * 16, my * 16,
                                          mvp, search)
            if sad > 28 * 256:  # motion failed (scene cut): intra fallback
                bw.ue(pending_skips)
                pending_skips = 0
                _encode_mb_i4(bw, smb.astype(np.uint8), plane, mx, my, qp,
                              nnz, modes, max_coeffs, plane_w, ch,
                              mb_type_code=5)
                mvs.set_mb(mx, my, (0, 0), -1)
                continue
            # --- partition decision: 16x8 / 8x16 / 8x8 when they clearly
            # beat the 16x16 block (deterministic gates; finer partitions
            # carry more mvd bits, so they must win by a larger margin)
            chosen = None    # 2-way: (ptype, parts)
            chosen8 = None   # 4-way 8x8: parts
            if sad > 6 * 256:
                tot, ptype, parts = _eval_partitions(mvs, ref_full, smb,
                                                     mx, my, search)
                tot8, parts8 = _eval_p8x8(mvs, ref_full, smb, mx, my,
                                          search)
                if tot8 < 0.85 * min(sad, tot):
                    chosen8 = parts8
                elif tot < sad * 0.92:
                    chosen = (ptype, parts)
            if chosen8:
                mb_type_code = 3  # P_8x8
                pred = np.zeros((16, 16), np.int32)
                mvds = []
                cparts = []
                for (ox8, oy8), (st8, sparts) in zip(_P8_GEOM, chosen8):
                    for (ox, oy, w_, h_), (mvp_i, mv_i, pred_i) in zip(
                            _P_SUB_GEOM[st8], sparts):
                        gx, gy = ox8 + ox, oy8 + oy
                        pred[gy:gy + h_, gx:gx + w_] = pred_i
                        mvds.append((mv_i[0] - mvp_i[0],
                                     mv_i[1] - mvp_i[1]))
                        cparts.append((gx, gy, w_, h_, mv_i))
                cpred = cmc(None, cparts)
            elif chosen:
                ptype, parts = chosen
                mb_type_code = 1 if ptype == "16x8" else 2
                pred = np.zeros((16, 16), np.int32)
                mvds = []
                cparts = []
                for (ox, oy, w_, h_), (mvp_i, mv_i, pred_i) in zip(
                        _PART_GEOM[ptype], parts):
                    pred[oy:oy + h_, ox:ox + w_] = pred_i
                    mvds.append((mv_i[0] - mvp_i[0], mv_i[1] - mvp_i[1]))
                    cparts.append((ox, oy, w_, h_, mv_i))
                cpred = cmc(None, cparts)
            else:
                mb_type_code = 0
                mvds = [(mv[0] - mvp[0], mv[1] - mvp[1])]
                cpred = cmc(mv)
            blocks = []
            cbp = 0
            out = pred.copy()
            for blk in range(16):
                ox, oy = _BLK_XY[blk]
                lv = _thin(_quant4(_fwd4(smb[oy:oy + 4, ox:ox + 4]
                                         - pred[oy:oy + 4, ox:ox + 4]),
                                   qp, intra=False), max_coeffs)
                tc = int(np.count_nonzero(lv))
                if tc:
                    cbp |= 1 << (blk >> 2)
                blocks.append((lv, tc))
                out[oy:oy + 4, ox:ox + 4] += _inv4(_dequant4(lv, qp)).astype(np.int32)
            cbpc, comps = _encode_chroma_mb(csrc_mb, cpred, qp, intra=False)
            bw.ue(pending_skips)
            pending_skips = 0
            bw.ue(mb_type_code)
            if chosen8:
                for st8, _sp in chosen8:
                    bw.ue(st8)  # sub_mb_type per 8x8 (7.4.5.2)
            for dx_, dy_ in mvds:
                bw.se(dx_)
                bw.se(dy_)
            bw.ue(_CBP_INTER_INV[cbp | (cbpc << 4)])
            if cbp | cbpc:
                bw.se(0)  # mb_qp_delta
            for blk in range(16):
                ox, oy = _BLK_XY[blk]
                bx, by = mx * 4 + ox // 4, my * 4 + oy // 4
                lv, tc = blocks[blk]
                if cbp & (1 << (blk >> 2)):
                    nc = _nc_luma(nnz, bx, by)
                    _encode_residual(bw, _scan16(lv), nc)
                nnz[by, bx] = tc
            _write_chroma_residual(bw, cbpc, comps, nnz_c, mx, my)
            for ci in range(2):
                crec[ci, my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = \
                    comps[ci]["recon"]
            np.clip(out, 0, 255, out)
            plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = out.astype(np.uint8)
            if chosen8:
                for (ox8, oy8), (st8, sparts) in zip(_P8_GEOM, chosen8):
                    for (ox, oy, w_, h_), (_mvp_i, mv_i, _p) in zip(
                            _P_SUB_GEOM[st8], sparts):
                        mvs.set_rect(mx * 4 + (ox8 + ox) // 4,
                                     my * 4 + (oy8 + oy) // 4,
                                     w_ // 4, h_ // 4, mv_i, 0)
            elif chosen:
                ptype, parts = chosen
                for (ox, oy, w, h), (_mvp_i, mv_i, _p) in zip(
                        _PART_GEOM[ptype], parts):
                    mvs.set_rect(mx * 4 + ox // 4, my * 4 + oy // 4,
                                 w // 4, h // 4, mv_i, 0)
            else:
                mvs.set_mb(mx, my, mv, 0)
            modes[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = -1
    if pending_skips:
        bw.ue(pending_skips)  # trailing skip run
    bw.rbsp_trailing()
    rbsps.append(bytes(bw.buf))
    _set_slice_top(0)
    rb = rbsps[0] if slice_rows is None else rbsps
    out_plane = plane
    if deblock and qp >= 16:
        out_plane = _deblock_luma_inter(plane, qp_map, nnz, mvs)
        crec = _deblock_chroma(crec, qp_map, nnz=nnz, mvs=mvs)
    if chroma is None:
        return rb, out_plane
    return rb, (out_plane, crec)


def _chroma_zero(csrc_mb, cpred, qp) -> bool:
    """True iff the MB's chroma residual quantizes to nothing (cbpc 0) —
    the extra gate P_SKIP needs now that chroma codes for real."""
    cbpc, _ = _encode_chroma_mb(csrc_mb, cpred, qp, intra=False)
    return cbpc == 0


def _all_zero_quant(resid: np.ndarray, qp: int) -> bool:
    for oy in range(0, 16, 4):
        for ox in range(0, 16, 4):
            if np.any(_quant4(_fwd4(resid[oy:oy + 4, ox:ox + 4]), qp,
                              intra=False)):
                return False
    return True


def build_avcc(w: int, h: int, deblock_ctrl: bool = False) -> bytes:
    """avcC (AVCDecoderConfigurationRecord) for the MP4 sample entry."""
    sps = _ep_insert(_sps(w, h))
    pps = _ep_insert(_pps(deblock_ctrl))
    return (bytes([1, 66, 0, 20, 0xFF, 0xE1])
            + struct.pack(">H", len(sps) + 1) + bytes([0x67]) + sps
            + bytes([1]) + struct.pack(">H", len(pps) + 1) + bytes([0x68]) + pps)


def _pack_sample(rbsp, nal_byte: int) -> bytes:
    """RBSP (or the per-slice list a slice_rows encode returns) -> one
    length-prefixed MP4 sample; multi-slice pictures pack one NAL per
    slice (r7)."""
    rbs = rbsp if isinstance(rbsp, list) else [rbsp]
    nals = [bytes([nal_byte]) + _ep_insert(rb) for rb in rbs]
    return b"".join(struct.pack(">I", len(n)) + n for n in nals)


def encode_frames(frames: list[np.ndarray], qp: int | None = None,
                  deblock: bool = False, gop: int | None = None,
                  chromas: list | None = None,
                  slice_rows: int | None = None) -> tuple[bytes, list[bytes]]:
    """Gray frames -> (avcC record, per-frame length-prefixed NAL samples
    ready for an 'avc1' MP4 track). qp=None keeps the bit-exact I_PCM
    path; an integer qp (0..51) switches to CAVLC transform coding.
    gop=N emits a real
    IDR+P group-of-pictures structure: every Nth frame is an IDR, the
    rest are P slices (P_SKIP / P_L0_16x16 motion compensation / intra
    fallback) predicting from the previous frame — decode with
    decode_samples.
    Dimensions must be even: 4:2:0 frame cropping works
    in 2-sample units, so odd sizes are unrepresentable in this chroma
    format (spec constraint, not an implementation one)."""
    h, w = np.asarray(frames[0]).shape
    if w % 2 or h % 2:
        raise ValueError("4:2:0 H.264 needs even dimensions (crop unit is 2 px)")
    if chromas is not None:
        assert len(chromas) == len(frames), "one chroma pair per frame"
    avcc = build_avcc(w, h, deblock_ctrl=qp is not None)
    samples = []
    ref_full = None
    cref_full = None
    frame_num = 0
    for i, f in enumerate(frames):
        cf = chromas[i] if chromas is not None else None
        if qp is None:
            rbsp = encode_idr_ipcm(f, chroma=cf)
            sample = _pack_sample(rbsp, 0x65)  # ref_idc 3, IDR
        elif gop is None or i % gop == 0:
            rbsp, rec = encode_idr_cavlc(f, qp=qp, deblock=deblock,
                                         full_recon=True, chroma=cf,
                                         slice_rows=slice_rows)
            frame_num = 1
            sample = _pack_sample(rbsp, 0x65)
        else:
            rbsp, rec = encode_p_cavlc(f, ref_full, qp=qp,
                                       frame_num=frame_num,
                                       deblock=deblock, chroma=cf,
                                       cref=cref_full,
                                       slice_rows=slice_rows)
            frame_num = (frame_num + 1) & 0xF
            sample = _pack_sample(rbsp, 0x41)  # ref_idc 2, non-IDR
        if qp is not None:  # this picture is the next one's reference
            ref_full, cref_full = rec if cf is not None else (rec, None)
        samples.append(sample)
    return avcc, samples


# ------------------------------------------------- inter prediction (P)
# P macroblock partition geometries (x, y, w, h) for mb_type 1 / 2
_PART_GEOM = {"16x8": ((0, 0, 16, 8), (0, 8, 16, 8)),
              "8x16": ((0, 0, 8, 16), (8, 0, 8, 16))}


def _search_block(ref_full, tgt, px, py, mvp, search):
    """Integer-pel full search of `tgt` around the median predictor.
    Returns (sad, mv, prediction)."""
    cx, cy = mvp[0] >> 2, mvp[1] >> 2
    h, w = tgt.shape
    best = None
    for dy in range(-search, search + 1):
        for dx in range(-search, search + 1):
            cand = _interp_luma(ref_full, px, py, (cx + dx) << 2,
                                (cy + dy) << 2, w, h)
            sad = int(np.abs(tgt - cand).sum())
            key = (sad, abs(dx) + abs(dy))
            if best is None or key < best[0]:
                best = (key, ((cx + dx) << 2, (cy + dy) << 2), cand)
    (sad, _), mv, pred = best
    return sad, mv, pred


def _eval_partitions(mvs, ref_full, smb, mx, my, search):
    """Try 16x8 and 8x16 (progressively committing partition MVs so the
    second partition's predictor matches what the decoder will compute,
    then restoring state). Returns (total_sad, ptype, parts) for the
    better of the two; parts = [(mvp, mv, pred), ...]."""
    best = None
    for ptype, geom in _PART_GEOM.items():
        save_mv = mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
        save_ref = mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
        tot, parts = 0, []
        for idx, (ox, oy, w, h) in enumerate(geom):
            mvp_i = mvs.mvp_part(mx, my, ptype, idx)
            sad_i, mv_i, pred_i = _search_block(
                ref_full, smb[oy:oy + h, ox:ox + w],
                mx * 16 + ox, my * 16 + oy, mvp_i, search)
            parts.append((mvp_i, mv_i, pred_i))
            tot += sad_i
            mvs.set_rect(mx * 4 + ox // 4, my * 4 + oy // 4,
                         w // 4, h // 4, mv_i, 0)
        mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = save_mv
        mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = save_ref
        if best is None or tot < best[0]:
            best = (tot, ptype, parts)
    return best


# 8x8 sub-partition origins (x, y) in raster order for P_8x8
_P8_GEOM = ((0, 0), (8, 0), (0, 8), (8, 8))

# sub_mb_type -> sub-partition rects (x, y, w, h) inside the 8x8 (7.4.5.2:
# 0 = P_L0_8x8, 1 = P_L0_8x4, 2 = P_L0_4x8, 3 = P_L0_4x4)
_P_SUB_GEOM = {
    0: ((0, 0, 8, 8),),
    1: ((0, 0, 8, 4), (0, 4, 8, 4)),
    2: ((0, 0, 4, 8), (4, 0, 4, 8)),
    3: ((0, 0, 4, 4), (4, 0, 4, 4), (0, 4, 4, 4), (4, 4, 4, 4)),
}
# finer shapes carry more mvd bits: they must beat 8x8 by these margins
_P_SUB_GATE = {1: 0.85, 2: 0.85, 3: 0.70}


def _eval_p8x8(mvs, ref_full, smb, mx, my, search):
    """Try P_8x8 picking, per 8x8 sub-macroblock, the best of
    {8x8, 8x4, 4x8, 4x4} (r7: real sub-partitions) with progressive
    commits so every predictor matches the decoder's state. Returns
    (total_sad, parts); parts = [(sub_mb_type, [(mvp, mv, pred), ...])
    per 8x8 in raster order]."""
    save_mv = mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
    save_ref = mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
    tot, parts = 0, []
    for (ox8, oy8) in _P8_GEOM:
        cand = {}
        for st, rects in _P_SUB_GEOM.items():
            in_mv = mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
            in_ref = mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4].copy()
            stot, sparts = 0, []
            for (ox, oy, w, h) in rects:
                gx, gy = ox8 + ox, oy8 + oy
                mvp_i = mvs.mvp_sub(mx * 4 + gx // 4, my * 4 + gy // 4,
                                    w // 4)
                sad_i, mv_i, pred_i = _search_block(
                    ref_full, smb[gy:gy + h, gx:gx + w],
                    mx * 16 + gx, my * 16 + gy, mvp_i, search)
                sparts.append((mvp_i, mv_i, pred_i))
                stot += sad_i
                mvs.set_rect(mx * 4 + gx // 4, my * 4 + gy // 4,
                             w // 4, h // 4, mv_i, 0)
            cand[st] = (stot, sparts)
            mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = in_mv
            mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = in_ref
        base = cand[0][0]
        best_st = 0
        for st in (1, 2, 3):
            if cand[st][0] < _P_SUB_GATE[st] * base and                     cand[st][0] < cand[best_st][0]:
                best_st = st
        stot, sparts = cand[best_st]
        # commit the chosen shape so the NEXT 8x8's predictors see it
        for (ox, oy, w, h), (_mvp_i, mv_i, _p) in zip(
                _P_SUB_GEOM[best_st], sparts):
            mvs.set_rect(mx * 4 + (ox8 + ox) // 4,
                         my * 4 + (oy8 + oy) // 4, w // 4, h // 4, mv_i, 0)
        parts.append((best_st, sparts))
        tot += stot
    mvs.mv[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = save_mv
    mvs.ref[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = save_ref
    return tot, parts


# Table 9-4 (me mapping) coded_block_pattern for INTER: codeNum -> cbp
_CBP_INTER = (0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13, 14,
              6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46, 17,
              18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41)
_CBP_INTER_INV = {v: i for i, v in enumerate(_CBP_INTER)}


def _interp_luma(ref: np.ndarray, px: int, py: int, mvx: int, mvy: int,
                 w: int = 16, h: int = 16) -> np.ndarray:
    """Motion-compensated w x h luma block at quarter-pel MV (8.4.2.2.1):
    6-tap (1,-5,20,20,-5,1) half-pel filter + quarter-pel averaging.
    Integer MVs take the fast path (plain shifted copy with edge clamp)."""
    H, W = ref.shape
    ix, fx = mvx >> 2, mvx & 3
    iy, fy = mvy >> 2, mvy & 3
    x0, y0 = px + ix, py + iy
    if fx == 0 and fy == 0:
        xs = np.clip(np.arange(x0, x0 + w), 0, W - 1)
        ys = np.clip(np.arange(y0, y0 + h), 0, H - 1)
        return ref[np.ix_(ys, xs)].astype(np.int32)
    # padded integer window large enough for the 6-tap support
    xs = np.clip(np.arange(x0 - 2, x0 + w + 3), 0, W - 1)
    ys = np.clip(np.arange(y0 - 2, y0 + h + 3), 0, H - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int32)  # (h+5, w+5)

    def tap6(a, axis):
        s = [a.take(range(i, a.shape[axis] - 5 + i), axis=axis) for i in range(6)]
        return s[0] - 5 * s[1] + 20 * s[2] + 20 * s[3] - 5 * s[4] + s[5]

    # integer grid G at (2.., 2..); half-pel planes per 8.4.2.2.1
    G = win[2:2 + h + 1, 2:2 + w + 1]               # (h+1, w+1) incl. +1 px
    b_full = tap6(win[2:2 + h + 1], 1)              # horizontal halves, rows int
    b = np.clip((b_full + 16) >> 5, 0, 255)         # (h+1, w)
    h_full = tap6(win[:, 2:2 + w + 1], 0)           # vertical halves, cols int
    hh = np.clip((h_full + 16) >> 5, 0, 255)        # (h, w+1)
    # center half-half j: 6-tap vertically over b_full (unclipped)
    j_full = tap6(tap6(win, 1), 0)                  # (h+1, w)
    j = np.clip((j_full + 512) >> 10, 0, 255)       # (h+1, w)

    def avg(a, bb):
        return (a + bb + 1) >> 1

    # sample positions per fractional offset (Figure 8-4 naming)
    Gm = G[:h, :w]
    bm = b[:h, :]
    hm = hh[:, :w]
    jm = j[:h, :]
    if fy == 0:
        out = {1: avg(Gm, bm), 2: bm, 3: avg(b[:h], G[:h, 1:])}[fx]
    elif fx == 0:
        out = {1: avg(Gm, hm), 2: hm, 3: avg(hm, G[1:, :w])}[fy]
    elif fx == 2 and fy == 2:
        out = jm
    elif fx == 2:
        out = {1: avg(bm, jm), 3: avg(j[:h], b[1:, :])}[fy]
    elif fy == 2:
        out = {1: avg(hm, jm), 3: avg(jm, hh[:, 1:])}[fx]
    else:  # quarter diagonals: average of nearest half-pel b and h
        bb = bm if fy == 1 else b[1:, :]
        hx = hm if fx == 1 else hh[:, 1:]
        out = avg(bb, hx)
    return out.astype(np.int32)


def _median_mv(cands: list[tuple[int, int] | None]) -> tuple[int, int]:
    """Component-wise median over A, B, C (None -> (0,0) per 8.4.1.3.1
    after the availability special cases handled by the caller)."""
    xs = [c[0] if c else 0 for c in cands]
    ys = [c[1] if c else 0 for c in cands]
    med = lambda v: sorted(v)[1]
    return med(xs), med(ys)


class _MvState:
    """Per-4x4-block motion state for MV prediction + deblocking:
    ref = -1 for intra/unavailable, 0 for the single L0 reference."""

    def __init__(self, mbw: int, mbh: int):
        self.mv = np.zeros((mbh * 4, mbw * 4, 2), np.int32)
        self.ref = np.full((mbh * 4, mbw * 4), -1, np.int32)

    def at(self, bx: int, by: int):
        if bx < 0 or by < _SLICE_TOP * 4 or by >= self.ref.shape[0] \
                or bx >= self.ref.shape[1]:
            return None  # unavailable (incl. above the slice top, r7)
        if self.ref[by, bx] < 0:
            return None  # intra: treated as unavailable for prediction
        return (int(self.mv[by, bx, 0]), int(self.mv[by, bx, 1]))

    def neighbors_16x16(self, mbx: int, mby: int):
        """A (left), B (above), C (above-right; D above-left fallback)."""
        bx, by = mbx * 4, mby * 4
        a = self.at(bx - 1, by)
        b = self.at(bx, by - 1)
        c = self.at(bx + 4, by - 1)
        if c is None and (by - 1 < _SLICE_TOP * 4
                          or bx + 4 >= self.ref.shape[1]):
            c = self.at(bx - 1, by - 1)  # D fallback
        return a, b, c

    def mvp_16x16(self, mbx: int, mby: int) -> tuple[int, int]:
        a, b, c = self.neighbors_16x16(mbx, mby)
        # 8.4.1.3.1: if B and C unavailable and A available -> A
        if b is None and c is None and a is not None:
            return a
        # exactly one neighbor references the target picture -> that one
        present = [m for m in (a, b, c) if m is not None]
        if len(present) == 1:
            return present[0]
        return _median_mv([a, b, c])

    def mvp_part(self, mbx: int, mby: int, ptype: str, idx: int) -> tuple[int, int]:
        """MV predictor for a 16x8 / 8x16 partition (8.4.1.3: the
        partition adjacent to its designated neighbour uses that
        neighbour directly when available; else the median over the
        partition's own A/B/C). Call AFTER the earlier partition of the
        same MB has been committed via set_rect (the decoder sees its MVs
        when predicting the second partition)."""
        bx, by = mbx * 4, mby * 4
        if ptype == "16x8":
            if idx == 0:
                ox, oy, w4, special = 0, 0, 4, "b"
            else:
                ox, oy, w4, special = 0, 2, 4, "a"
        else:  # 8x16
            if idx == 0:
                ox, oy, w4, special = 0, 0, 2, "a"
            else:
                ox, oy, w4, special = 2, 0, 2, "c"
        px, py = bx + ox, by + oy
        a = self.at(px - 1, py)
        b = self.at(px, py - 1)
        c = self.at(px + w4, py - 1)
        if c is None:
            c = self.at(px - 1, py - 1)  # D fallback
        if special == "b" and b is not None:
            return b
        if special == "a" and a is not None:
            return a
        if special == "c" and c is not None:
            return c
        if b is None and c is None and a is not None:
            return a
        present = [m for m in (a, b, c) if m is not None]
        if len(present) == 1:
            return present[0]
        return _median_mv([a, b, c])

    def mvp_sub(self, px: int, py: int, w4: int) -> tuple[int, int]:
        """Median predictor for a partition whose top-left 4x4 block is
        (px, py) with width w4 blocks (8.4.1.3: no directional special
        case below the MB-partition level — covers 8x8 and the r7
        sub-8x8 shapes). Call in sub-partition scan order: earlier
        sub-partitions are already committed, so the predictor matches
        the decoder's state exactly."""
        a = self.at(px - 1, py)
        b = self.at(px, py - 1)
        c = self.at(px + w4, py - 1)
        if c is None:
            c = self.at(px - 1, py - 1)  # D fallback
        if b is None and c is None and a is not None:
            return a
        present = [m for m in (a, b, c) if m is not None]
        if len(present) == 1:
            return present[0]
        return _median_mv([a, b, c])

    def set_rect(self, bx: int, by: int, w4: int, h4: int, mv, ref: int):
        """Commit MVs for a sub-MB rectangle (4x4-block units)."""
        self.mv[by:by + h4, bx:bx + w4] = mv
        self.ref[by:by + h4, bx:bx + w4] = ref

    def skip_mv(self, mbx: int, mby: int) -> tuple[int, int]:
        """P_SKIP MV (8.4.1.1): zero when a left/above neighbour is
        missing or is a zero-MV ref-0 block; else the 16x16 predictor."""
        bx, by = mbx * 4, mby * 4
        a_out = bx - 1 < 0
        b_out = by - 1 < _SLICE_TOP * 4
        a = self.at(bx - 1, by)
        b = self.at(bx, by - 1)
        if a_out or b_out:
            return (0, 0)
        if a == (0, 0) or b == (0, 0):
            return (0, 0)
        return self.mvp_16x16(mbx, mby)

    def set_mb(self, mbx: int, mby: int, mv, ref: int):
        bx, by = mbx * 4, mby * 4
        self.mv[by:by + 4, bx:bx + 4] = mv
        self.ref[by:by + 4, bx:bx + 4] = ref


# ------------------------------------------------------- deblocking filter
# Table 8-16 alpha/beta thresholds indexed by clipped qp average
_DB_ALPHA = (0,) * 16 + (4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22,
                         25, 28, 32, 36, 40, 45, 50, 56, 63, 71, 80, 90,
                         101, 113, 127, 144, 162, 182, 203, 226, 255, 255)
_DB_BETA = (0,) * 16 + (2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9,
                        9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15,
                        16, 16, 17, 17, 18, 18)
# Table 8-17 tc0 for bS 1..3 (best-effort spec transcription; shared by
# encoder recon and decoder, so in-profile round trips stay bit-exact)
_DB_TC0 = ((0,) * 16 + (0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                        2, 2, 2, 2, 3, 3, 3, 4, 4, 5, 6, 6, 7, 8, 9, 10,
                        11, 13, 14),
           (0,) * 16 + (0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2,
                        2, 2, 3, 3, 3, 3, 4, 5, 6, 6, 7, 8, 9, 10, 12, 13,
                        15, 17, 19),
           (0,) * 16 + (0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3,
                        3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13, 14, 16,
                        18, 20, 23, 25))


def _db_filter_line(p3, p2, p1, p0, q0, q1, q2, q3, bs, alpha, beta, tc0):
    """One 8-sample line across an edge (numpy vectors over the edge
    length). Returns filtered (p2', p1', p0', q0', q1', q2')."""
    p0f, p1f, p2f = p0.copy(), p1.copy(), p2.copy()
    q0f, q1f, q2f = q0.copy(), q1.copy(), q2.copy()
    act = (np.abs(p0 - q0) < alpha) & (np.abs(p1 - p0) < beta) \
        & (np.abs(q1 - q0) < beta)
    ap = np.abs(p2 - p0) < beta
    aq = np.abs(q2 - q0) < beta
    if bs == 4:
        strong = np.abs(p0 - q0) < ((alpha >> 2) + 2)
        sp = act & strong & ap
        p0f[sp] = (p2[sp] + 2 * p1[sp] + 2 * p0[sp] + 2 * q0[sp] + q1[sp] + 4) >> 3
        p1f[sp] = (p2[sp] + p1[sp] + p0[sp] + q0[sp] + 2) >> 2
        p2f[sp] = (2 * p3[sp] + 3 * p2[sp] + p1[sp] + p0[sp] + q0[sp] + 4) >> 3
        wp = act & ~(strong & ap)
        p0f[wp] = (2 * p1[wp] + p0[wp] + q1[wp] + 2) >> 2
        sq = act & strong & aq
        q0f[sq] = (q2[sq] + 2 * q1[sq] + 2 * q0[sq] + 2 * p0[sq] + p1[sq] + 4) >> 3
        q1f[sq] = (q2[sq] + q1[sq] + q0[sq] + p0[sq] + 2) >> 2
        q2f[sq] = (2 * q3[sq] + 3 * q2[sq] + q1[sq] + q0[sq] + p0[sq] + 4) >> 3
        wq = act & ~(strong & aq)
        q0f[wq] = (2 * q1[wq] + q0[wq] + p1[wq] + 2) >> 2
    else:
        tc = tc0 + ap.astype(np.int32) + aq.astype(np.int32)
        delta = np.clip((((q0 - p0) << 2) + (p1 - q1) + 4) >> 3, -tc, tc)
        p0f[act] = np.clip(p0 + delta, 0, 255)[act]
        q0f[act] = np.clip(q0 - delta, 0, 255)[act]
        dp = np.clip((p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1, -tc0, tc0)
        m = act & ap
        p1f[m] = (p1 + dp)[m]
        dq = np.clip((q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1, -tc0, tc0)
        m = act & aq
        q1f[m] = (q1 + dq)[m]
    return p2f, p1f, p0f, q0f, q1f, q2f


def _deblock_luma(plane: np.ndarray, qp_map: np.ndarray,
                  off_a: int = 0, off_b: int = 0) -> np.ndarray:
    """In-loop deblocking (8.7) for an all-intra picture, luma only.
    bS = 4 on macroblock edges, 3 on internal 4x4 edges. Operates on a
    copy; intra prediction must keep using the UNFILTERED plane."""
    out = plane.astype(np.int32)
    mbh, mbw = qp_map.shape

    def thresholds(qp_p, qp_q):
        qpav = (int(qp_p) + int(qp_q) + 1) >> 1
        ia = min(max(qpav + off_a, 0), 51)
        ib = min(max(qpav + off_b, 0), 51)
        return _DB_ALPHA[ia], _DB_BETA[ib], ia

    for my in range(mbh):
        for mx in range(mbw):
            qp_q = qp_map[my, mx]
            # vertical edges (filter columns), left to right
            for ex in range(4):
                x = mx * 16 + ex * 4
                if x == 0:
                    continue
                bs = 4 if ex == 0 else 3
                qp_p = qp_map[my, mx - 1] if ex == 0 else qp_q
                alpha, beta, ia = thresholds(qp_p, qp_q)
                if alpha == 0:
                    continue
                ys = slice(my * 16, my * 16 + 16)
                cols = [out[ys, x - 4 + i] for i in range(8)]
                tc0 = _DB_TC0[bs - 1][ia] if bs < 4 else 0
                f = _db_filter_line(*cols, bs, alpha, beta, tc0)
                for i, v in enumerate(f):
                    out[ys, x - 3 + i] = np.clip(v, 0, 255)
            # horizontal edges (filter rows), top to bottom
            for ey in range(4):
                y = my * 16 + ey * 4
                if y == 0:
                    continue
                bs = 4 if ey == 0 else 3
                qp_p = qp_map[my - 1, mx] if ey == 0 else qp_q
                alpha, beta, ia = thresholds(qp_p, qp_q)
                if alpha == 0:
                    continue
                xs = slice(mx * 16, mx * 16 + 16)
                rows = [out[y - 4 + i, xs] for i in range(8)]
                tc0 = _DB_TC0[bs - 1][ia] if bs < 4 else 0
                f = _db_filter_line(*rows, bs, alpha, beta, tc0)
                for i, v in enumerate(f):
                    out[y - 3 + i, xs] = np.clip(v, 0, 255)
    return np.clip(out, 0, 255).astype(np.uint8)


def _deblock_luma_inter(plane, qp_map, nnz, mvs, off_a=0, off_b=0):
    """8.7 for P pictures: per-4x4-segment bS — 4/3 when a side is intra
    (MB edge / internal), 2 when a side has coded residual, 1 on a
    >= 1-integer-pel MV difference, else unfiltered."""
    out = plane.astype(np.int32)
    mbh, mbw = qp_map.shape

    def seg_bs(bxp, byp, bxq, byq, mb_edge):
        if mvs.ref[byp, bxp] < 0 or mvs.ref[byq, bxq] < 0:
            return 4 if mb_edge else 3
        if nnz[byp, bxp] or nnz[byq, bxq]:
            return 2
        dv = np.abs(mvs.mv[byp, bxp] - mvs.mv[byq, bxq])
        return 1 if int(dv.max()) >= 4 else 0

    for my in range(mbh):
        for mx in range(mbw):
            qp_q = qp_map[my, mx]
            for vert in (True, False):
                for e in range(4):
                    x = mx * 16 + e * 4 if vert else mx * 16
                    y = my * 16 if vert else my * 16 + e * 4
                    if (vert and x == 0) or (not vert and y == 0):
                        continue
                    mb_edge = e == 0
                    qp_p = (qp_map[my, mx - 1] if vert else qp_map[my - 1, mx]) \
                        if mb_edge else qp_q
                    qpav = (int(qp_p) + int(qp_q) + 1) >> 1
                    ia = min(max(qpav + off_a, 0), 51)
                    ib = min(max(qpav + off_b, 0), 51)
                    alpha, beta = _DB_ALPHA[ia], _DB_BETA[ib]
                    if alpha == 0:
                        continue
                    for seg in range(4):  # 4-sample segments along the edge
                        if vert:
                            ys = slice(my * 16 + seg * 4, my * 16 + seg * 4 + 4)
                            bxq_, byq_ = x // 4, (my * 16 + seg * 4) // 4
                            bxp_, byp_ = bxq_ - 1, byq_
                        else:
                            xs = slice(mx * 16 + seg * 4, mx * 16 + seg * 4 + 4)
                            bxq_, byq_ = (mx * 16 + seg * 4) // 4, y // 4
                            bxp_, byp_ = bxq_, byq_ - 1
                        bs = seg_bs(bxp_, byp_, bxq_, byq_, mb_edge)
                        if bs == 0:
                            continue
                        tc0 = _DB_TC0[bs - 1][ia] if bs < 4 else 0
                        if vert:
                            lines = [out[ys, x - 4 + i] for i in range(8)]
                        else:
                            lines = [out[y - 4 + i, xs] for i in range(8)]
                        f = _db_filter_line(*lines, bs, alpha, beta, tc0)
                        for i, v in enumerate(f):
                            if vert:
                                out[ys, x - 3 + i] = np.clip(v, 0, 255)
                            else:
                                out[y - 3 + i, xs] = np.clip(v, 0, 255)
    return np.clip(out, 0, 255).astype(np.uint8)


def _db_chroma_line(p1, p0, q0, q1, bs, alpha, beta, tc0):
    """8.7 chroma filter: only p0/q0 move. bs<4: +-tc clipped delta with
    tc = tc0 + 1; bs==4: 2-tap strong replacement."""
    mask = ((np.abs(p0 - q0) < alpha) & (np.abs(p1 - p0) < beta)
            & (np.abs(q1 - q0) < beta))
    if bs == 4:
        np0 = (2 * p1 + p0 + q1 + 2) >> 2
        nq0 = (2 * q1 + q0 + p1 + 2) >> 2
    else:
        tc = tc0 + 1
        delta = np.clip((((q0 - p0) << 2) + (p1 - q1) + 4) >> 3, -tc, tc)
        np0 = p0 + delta
        nq0 = q0 - delta
    return np.where(mask, np0, p0), np.where(mask, nq0, q0)


def _deblock_chroma(cplanes, qp_map, off_a=0, off_b=0, nnz=None, mvs=None):
    """8.7 chroma deblocking (4:2:0, r7): chroma edges exist only where
    luma edges 0 / 8 sit (chroma x|y 0 and 4 per MB). bS comes from the
    LUMA edge rules at the co-sited luma blocks — static 4 (MB edge) / 3
    (internal) for all-intra pictures, the _deblock_luma_inter seg rules
    (intra side / coded residual / >=1-pel MV delta) when nnz+mvs are
    given. alpha/beta/tc0 index with QPc (Table 8-15), and only p0/q0
    change (chroma has no strong 3-tap path)."""
    out = cplanes.astype(np.int32)
    mbh, mbw = qp_map.shape

    def seg_bs(bxp, byp, bxq, byq, mb_edge):
        if mvs is None:
            return 4 if mb_edge else 3
        if mvs.ref[byp, bxp] < 0 or mvs.ref[byq, bxq] < 0:
            return 4 if mb_edge else 3
        if nnz[byp, bxp] or nnz[byq, bxq]:
            return 2
        dv = np.abs(mvs.mv[byp, bxp] - mvs.mv[byq, bxq])
        return 1 if int(dv.max()) >= 4 else 0

    for my in range(mbh):
        for mx in range(mbw):
            qc_q = _qpc(int(qp_map[my, mx]))
            for vert in (True, False):
                for e in range(2):  # chroma edges at 0 and 4
                    xc = mx * 8 + e * 4 if vert else mx * 8
                    yc = my * 8 if vert else my * 8 + e * 4
                    if (vert and xc == 0) or (not vert and yc == 0):
                        continue
                    mb_edge = e == 0
                    qp_p = (qp_map[my, mx - 1] if vert
                            else qp_map[my - 1, mx]) if mb_edge                         else qp_map[my, mx]
                    qpav = (_qpc(int(qp_p)) + qc_q + 1) >> 1
                    ia = min(max(qpav + off_a, 0), 51)
                    ib = min(max(qpav + off_b, 0), 51)
                    alpha, beta = _DB_ALPHA[ia], _DB_BETA[ib]
                    if alpha == 0:
                        continue
                    for seg in range(4):  # 2 chroma samples per segment
                        # co-sited luma block pair for this segment
                        if vert:
                            xl = 2 * xc
                            yl = my * 16 + seg * 4
                            bxq_, byq_ = xl // 4, yl // 4
                            bxp_, byp_ = bxq_ - 1, byq_
                        else:
                            yl = 2 * yc
                            xl = mx * 16 + seg * 4
                            bxq_, byq_ = xl // 4, yl // 4
                            bxp_, byp_ = bxq_, byq_ - 1
                        bs = seg_bs(bxp_, byp_, bxq_, byq_, mb_edge)
                        if bs == 0:
                            continue
                        tc0 = _DB_TC0[bs - 1][ia] if bs < 4 else 0
                        for ci in range(2):
                            if vert:
                                ys = slice(my * 8 + seg * 2,
                                           my * 8 + seg * 2 + 2)
                                p1 = out[ci, ys, xc - 2]
                                p0 = out[ci, ys, xc - 1]
                                q0 = out[ci, ys, xc]
                                q1 = out[ci, ys, xc + 1]
                                np0, nq0 = _db_chroma_line(
                                    p1, p0, q0, q1, bs, alpha, beta, tc0)
                                out[ci, ys, xc - 1] = np.clip(np0, 0, 255)
                                out[ci, ys, xc] = np.clip(nq0, 0, 255)
                            else:
                                xs = slice(mx * 8 + seg * 2,
                                           mx * 8 + seg * 2 + 2)
                                p1 = out[ci, yc - 2, xs]
                                p0 = out[ci, yc - 1, xs]
                                q0 = out[ci, yc, xs]
                                q1 = out[ci, yc + 1, xs]
                                np0, nq0 = _db_chroma_line(
                                    p1, p0, q0, q1, bs, alpha, beta, tc0)
                                out[ci, yc - 1, xs] = np.clip(np0, 0, 255)
                                out[ci, yc, xs] = np.clip(nq0, 0, 255)
    return np.clip(out, 0, 255).astype(np.uint8)


# ------------------------------------------------------------------ decoder
def _parse_sps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    profile = r.u(8)
    r.u(8)
    level = r.u(8)
    r.ue()  # sps_id
    if profile in (110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS: out of decode scope")
    if profile == 100:  # High (r7): only the 8-bit 4:2:0 flat-scaling shape
        if r.ue() != 1:
            raise ValueError("chroma_format_idc != 4:2:0: out of scope")
        if r.ue() or r.ue():
            raise ValueError(">8-bit depth: out of decode scope")
        if r.u(1):
            raise ValueError("transform bypass: out of decode scope")
        if r.u(1):
            raise ValueError("scaling matrices: out of decode scope")
    log2_mfn = r.ue() + 4
    poc_type = r.ue()
    log2_poc = 0
    delta_always_zero = True
    if poc_type == 0:
        log2_poc = r.ue() + 4
    elif poc_type == 1:
        delta_always_zero = bool(r.u(1))
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    max_refs = r.ue()  # the decoder keeps one reference regardless
    r.u(1)
    mbw = r.ue() + 1
    mbh = r.ue() + 1
    fmo = r.u(1)  # frame_mbs_only
    if not fmo:
        r.u(1)
    r.u(1)  # direct_8x8
    crop = (0, 0, 0, 0)
    if r.u(1):
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    w = mbw * 16 - 2 * (crop[0] + crop[1])
    h = mbh * 16 - 2 * (crop[2] + crop[3])
    return {"profile": profile, "level": level, "mbw": mbw, "mbh": mbh,
            "w": w, "h": h, "log2_mfn": log2_mfn, "poc_type": poc_type,
            "log2_poc": log2_poc, "delta_always_zero": delta_always_zero,
            "max_num_ref_frames": max_refs}


def _more_rbsp(r: "_BitReader") -> bool:
    """more_rbsp_data() (7.2): true while bits remain before the final
    rbsp_stop_one_bit (the last set bit of the RBSP)."""
    last_one = -1
    for i, byte in enumerate(r.data):
        if byte:
            # lowest set bit of the byte = the byte's LAST bit in
            # stream order (MSB-first)
            last_one = i * 8 + 7 - (byte & -byte).bit_length() + 1
    return r.pos < last_one


def _parse_pps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    r.ue()  # pps_id
    r.ue()  # sps_id
    if r.u(1):
        raise ValueError(
            "CABAC (entropy_coding_mode_flag 1): out of decode scope")
    pic_order_present = r.u(1)
    if r.ue() != 0:  # num_slice_groups_minus1
        raise ValueError("FMO slice groups unsupported")
    nref_default = r.ue() + 1  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1 (B slices only)
    if r.u(1):
        raise ValueError(
            "explicit weighted prediction (weighted_pred_flag 1): out of "
            "decode scope")
    r.u(2)  # weighted_bipred_idc (B slices only, which raise)
    pic_init_qp = 26 + r.se()
    r.se()  # pic_init_qs
    r.se()  # chroma_qp_index_offset (in-repo streams write 0)
    deblock_ctrl = r.u(1)
    r.u(1)  # constrained_intra_pred (all-intra: no effect here)
    redundant = r.u(1)
    if _more_rbsp(r):  # PPS extension tail (High profile)
        if r.u(1):
            raise ValueError(
                "8x8 transform (transform_8x8_mode_flag 1): out of decode "
                "scope")
        if r.u(1):
            raise ValueError("pic scaling matrices: out of decode scope")
        r.se()  # second_chroma_qp_index_offset
    return {"pic_order_present": bool(pic_order_present),
            "pic_init_qp": pic_init_qp, "deblock_ctrl": bool(deblock_ctrl),
            "redundant": bool(redundant), "nref_default": nref_default}


def _avcc_param_sets(avcc: bytes) -> tuple[dict, dict]:
    """avcC record -> (parsed SPS, parsed PPS). Missing PPS (legacy
    records) falls back to this module's default PPS shape."""
    (sps_len,) = struct.unpack(">H", avcc[6:8])
    sps = _parse_sps(_ep_remove(avcc[8 + 1: 8 + sps_len]))
    pos = 8 + sps_len
    # skip any further SPS entries
    n_sps = avcc[5] & 0x1F
    for _ in range(n_sps - 1):
        (ln,) = struct.unpack(">H", avcc[pos:pos + 2])
        pos += 2 + ln
    pps = None
    if pos < len(avcc):
        n_pps = avcc[pos]
        pos += 1
        if n_pps and pos + 2 <= len(avcc):
            (ln,) = struct.unpack(">H", avcc[pos:pos + 2])
            pps = _parse_pps(_ep_remove(avcc[pos + 2 + 1: pos + 2 + ln]))
    if pps is None:
        pps = _parse_pps(_pps())
    return sps, pps


def _nc_chroma(nnz_comp, bx, by):
    a = int(nnz_comp[by, bx - 1]) if bx > 0 else None
    b = int(nnz_comp[by - 1, bx]) if by > _SLICE_TOP * 2 else None
    if a is not None and b is not None:
        return (a + b + 1) >> 1
    if a is not None:
        return a
    if b is not None:
        return b
    return 0


def _decode_mb_i4x4(r, plane, mx, my, qp, nnz, cc, modes, plane_w):
    prev_flags = []
    for _blk in range(16):
        if r.u(1):
            prev_flags.append(None)  # use predicted mode
        else:
            prev_flags.append(r.u(3))
    icp = r.ue()
    if icp > 3:
        raise ValueError("bad intra_chroma_pred_mode")
    cn = r.ue()
    if cn > 47:
        raise ValueError("bad coded_block_pattern")
    cbp = _CBP_INTRA[cn]
    if cbp:
        qp = (qp + r.se() + 52) % 52
    for blk in range(16):
        ox, oy = _BLK_XY[blk]
        px, py = mx * 16 + ox, my * 16 + oy
        bx, by = px // 4, py // 4
        pm = _pred_mode_for(modes, bx, by)
        rem = prev_flags[blk]
        mode = pm if rem is None else rem + (1 if rem >= pm else 0)
        modes[by, bx] = mode
        al, aa, aar, aal = _mb_avail(blk, px, py, plane_w)
        pred = _pred4(plane, px, py, mode, al, aa, aar, aal)
        if cbp & (1 << (blk >> 2)):
            nc = _nc_luma(nnz, bx, by)
            lv = _unscan16(_decode_residual(r, nc, 16))
            tc = int(np.count_nonzero(lv))
            rec = pred + _inv4(_dequant4(lv, qp)).astype(np.int32)
        else:
            tc = 0
            rec = pred.copy()
        nnz[by, bx] = tc
        np.clip(rec, 0, 255, rec)
        plane[py:py + 4, px:px + 4] = rec.astype(np.uint8)
    cres = _decode_chroma_residual(r, cbp >> 4, cc.nnz, mx, my, qp)
    for ci in range(2):
        cpred = _pred_chroma8(cc.planes[ci], mx, my, icp, mx > 0,
                              my > _SLICE_TOP)
        cc.store(ci, mx, my, cpred + cres[ci])
    return qp


def _decode_mb_i16(r, mb_type, plane, mx, my, qp, nnz, cc, modes):
    t = mb_type - 1
    pm16 = t % 4
    cbpc = (t // 4) % 3
    cbpl = 15 if t >= 12 else 0
    icp = r.ue()
    if icp > 3:
        raise ValueError("bad intra_chroma_pred_mode")
    qp = (qp + r.se() + 52) % 52  # mb_qp_delta always present for I_16x16
    nc = _nc_luma(nnz, mx * 4, my * 4)  # Intra16x16DCLevel uses blk 0 ctx
    dc_lv = _unscan16(_decode_residual(r, nc, 16))
    dcv = _i16_dc_dequant(dc_lv, qp)
    pred = _pred16(plane, mx, my, pm16, mx > 0, my > _SLICE_TOP)
    out = pred.copy()
    for blk in range(16):
        ox, oy = _BLK_XY[blk]
        bx, by = mx * 4 + ox // 4, my * 4 + oy // 4
        if cbpl:
            nc = _nc_luma(nnz, bx, by)
            lv = _unscan15(_decode_residual(r, nc, 15))
            tc = int(np.count_nonzero(lv))
            d = _dequant4(lv, qp)
        else:
            tc = 0
            d = np.zeros((4, 4), np.int64)
        d[0, 0] = dcv[oy // 4, ox // 4]
        nnz[by, bx] = tc
        modes[by, bx] = -1
        out[oy:oy + 4, ox:ox + 4] += _inv4(d).astype(np.int32)
    np.clip(out, 0, 255, out)
    plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = out.astype(np.uint8)
    cres = _decode_chroma_residual(r, cbpc, cc.nnz, mx, my, qp)
    for ci in range(2):
        cpred = _pred_chroma8(cc.planes[ci], mx, my, icp, mx > 0,
                              my > _SLICE_TOP)
        cc.store(ci, mx, my, cpred + cres[ci])
    return qp


def _p_recon_tail(r, pred, plane, mx, my, qp, nnz, cc, modes, cpred):
    """Shared inter-MB tail: cbp + mb_qp_delta + luma residuals over an
    already-built MC prediction, then reconstruction; `cpred` is the
    (2, 8, 8) chroma MC prediction the chroma residual adds onto."""
    cn = r.ue()
    if cn > 47:
        raise ValueError("bad coded_block_pattern")
    cbp = _CBP_INTER[cn]
    if cbp:
        qp = (qp + r.se() + 52) % 52
    out = pred.copy()
    for blk in range(16):
        ox, oy = _BLK_XY[blk]
        bx, by = mx * 4 + ox // 4, my * 4 + oy // 4
        if cbp & (1 << (blk >> 2)):
            nc = _nc_luma(nnz, bx, by)
            lv = _unscan16(_decode_residual(r, nc, 16))
            tc = int(np.count_nonzero(lv))
            out[oy:oy + 4, ox:ox + 4] += _inv4(_dequant4(lv, qp)).astype(np.int32)
        else:
            tc = 0
        nnz[by, bx] = tc
        modes[by, bx] = -1
    np.clip(out, 0, 255, out)
    plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = out.astype(np.uint8)
    cres = _decode_chroma_residual(r, cbp >> 4, cc.nnz, mx, my, qp)
    for ci in range(2):
        cc.store(ci, mx, my, cpred[ci] + cres[ci])
    return qp


def _decode_mb_p16(r, plane, ref, mx, my, qp, nnz, cc, modes, mvs):
    """P_L0_16x16: mvd + optional residual over the MC prediction."""
    mvp = mvs.mvp_16x16(mx, my)
    mvd = (r.se(), r.se())
    mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
    pred = _interp_luma(ref, mx * 16, my * 16, mv[0], mv[1])
    cpred = np.stack([cc.mc(ci, mx, my, mv) for ci in range(2)])
    mvs.set_mb(mx, my, mv, 0)
    return _p_recon_tail(r, pred, plane, mx, my, qp, nnz, cc, modes, cpred)


def _decode_mb_p_part(r, mb_type, plane, ref, mx, my, qp, nnz, cc,
                      modes, mvs):
    """P_L0_L0_16x8 / P_L0_L0_8x16 (mb_type 1 / 2): one mvd per
    partition; the second partition's predictor sees the first's
    committed MVs (8.4.1.3)."""
    ptype = "16x8" if mb_type == 1 else "8x16"
    pred = np.zeros((16, 16), np.int32)
    cpred = np.zeros((2, 8, 8), np.int32)
    for idx, (ox, oy, w, h) in enumerate(_PART_GEOM[ptype]):
        mvp = mvs.mvp_part(mx, my, ptype, idx)
        mvd = (r.se(), r.se())
        mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
        pred[oy:oy + h, ox:ox + w] = _interp_luma(
            ref, mx * 16 + ox, my * 16 + oy, mv[0], mv[1], w, h)
        for ci in range(2):
            cpred[ci, oy // 2:(oy + h) // 2, ox // 2:(ox + w) // 2] = \
                _interp_chroma(cc.ref[ci], mx * 8 + ox // 2,
                               my * 8 + oy // 2, mv[0], mv[1],
                               w // 2, h // 2)
        mvs.set_rect(mx * 4 + ox // 4, my * 4 + oy // 4, w // 4, h // 4,
                     mv, 0)
    return _p_recon_tail(r, pred, plane, mx, my, qp, nnz, cc, modes, cpred)


def _decode_mb_p8x8(r, plane, ref, mx, my, qp, nnz, cc, modes, mvs):
    """P_8x8 / P_8x8ref0 (mb_type 3 / 4, alike with one reference): per
    8x8 sub-macroblock any of the sub_mb_type shapes 8x8 / 8x4 / 4x8 /
    4x4 (r7 — one mvd per sub-partition, median predictors at sub-block
    granularity)."""
    sts = []
    for _ in range(4):
        st = r.ue()
        if st > 3:
            raise ValueError("bad P sub_mb_type")
        sts.append(st)
    pred = np.zeros((16, 16), np.int32)
    cpred = np.zeros((2, 8, 8), np.int32)
    for (ox8, oy8), st in zip(_P8_GEOM, sts):
        for (ox, oy, w, h) in _P_SUB_GEOM[st]:
            gx, gy = ox8 + ox, oy8 + oy
            mvp = mvs.mvp_sub(mx * 4 + gx // 4, my * 4 + gy // 4, w // 4)
            mvd = (r.se(), r.se())
            mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
            pred[gy:gy + h, gx:gx + w] = _interp_luma(
                ref, mx * 16 + gx, my * 16 + gy, mv[0], mv[1], w, h)
            for ci in range(2):
                cpred[ci, gy // 2:(gy + h) // 2, gx // 2:(gx + w) // 2] = \
                    _interp_chroma(cc.ref[ci], mx * 8 + gx // 2,
                                   my * 8 + gy // 2, mv[0], mv[1],
                                   w // 2, h // 2)
            mvs.set_rect(mx * 4 + gx // 4, my * 4 + gy // 4,
                         w // 4, h // 4, mv, 0)
    return _p_recon_tail(r, pred, plane, mx, my, qp, nnz, cc, modes, cpred)


def _skip_mb(plane, ref, mx, my, nnz, cc, modes, mvs):
    mv = mvs.skip_mv(mx, my)
    pred = _interp_luma(ref, mx * 16, my * 16, mv[0], mv[1])
    plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = \
        np.clip(pred, 0, 255).astype(np.uint8)
    for ci in range(2):
        cc.store(ci, mx, my, cc.mc(ci, mx, my, mv))
    nnz[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = 0
    cc.nnz[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0
    modes[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = -1
    mvs.set_mb(mx, my, mv, 0)


def _parse_slice_header(r, sps, pps, nal_type, nal_ref_idc: int = 3) -> dict:
    """Slice header (7.3.3). first_mb
    lands in the returned dict (multi-slice pictures, r7); decode_sample
    validates row alignment and ordering across a picture's slices.
    A B slice raises as soon as its slice_type is read."""
    first_mb = r.ue()
    stype = r.ue()
    if stype % 5 == 1:
        raise ValueError("B slices are not supported (out of decode scope)")
    is_p = stype % 5 == 0
    if not is_p and stype % 5 != 2:
        raise ValueError("SP/SI slice: out of decode scope")
    r.ue()  # pps_id
    r.u(sps["log2_mfn"])  # frame_num
    if nal_type == 5:
        r.ue()  # idr_pic_id
    # picture order fields: read past, pictures decode in decode order
    if sps["poc_type"] == 0:
        r.u(sps["log2_poc"])  # pic_order_cnt_lsb
        if pps["pic_order_present"]:
            r.se()  # delta_pic_order_cnt_bottom
    elif sps["poc_type"] == 1 and not sps["delta_always_zero"]:
        r.se()
        if pps["pic_order_present"]:
            r.se()
    if pps["redundant"]:
        r.ue()
    if is_p:
        nrefs = pps["nref_default"]
        if r.u(1):  # num_ref_idx_active_override_flag
            nrefs = r.ue() + 1  # num_ref_idx_l0_active_minus1
        if nrefs > 1:
            raise ValueError(
                f"num_ref_idx_l0_active {nrefs}: multi-reference P slices "
                "are out of decode scope")
        if r.u(1):  # ref_pic_list_modification_flag_l0
            raise ValueError("ref pic list modification unsupported")
    if nal_type == 5:
        r.u(1)  # no_output_of_prior_pics
        r.u(1)  # long_term_reference
    elif nal_ref_idc:  # dec_ref_pic_marking only for reference pictures
        if r.u(1):
            raise ValueError("adaptive ref pic marking unsupported")
    qp = pps["pic_init_qp"] + r.se()
    do_filter, off_a, off_b = True, 0, 0
    if pps["deblock_ctrl"]:
        idc = r.ue()
        if idc == 1:
            do_filter = False
        elif idc != 2:  # idc 2 (no slice-crossing) == full filter here:
            off_a = 2 * r.se()  # single-slice pictures have no such edges
            off_b = 2 * r.se()
    return {"is_p": is_p, "qp": qp, "do_filter": do_filter,
            "off_a": off_a, "off_b": off_b, "first_mb": first_mb}


def _decode_islice(r, sps, pps, nal_type, ref: np.ndarray | None = None,
                   nal_ref_idc: int = 3,
                   cref: np.ndarray | None = None,
                   hdr=None, rows=None, pic=None):
    """Returns (luma FULL plane, chroma (2, H/2, W/2) FULL planes).
    Multi-slice pictures (r7): decode_sample calls once per slice NAL
    with the pre-parsed `hdr`, the slice's MB-row range `rows`, and a
    shared `pic` state dict; non-final slices return None."""
    if hdr is None:
        hdr = _parse_slice_header(r, sps, pps, nal_type, nal_ref_idc)
    is_p = hdr["is_p"]
    if is_p and ref is None:
        raise ValueError("P slice without a decoded reference frame")
    qp = hdr["qp"]
    do_filter, off_a, off_b = hdr["do_filter"], hdr["off_a"], hdr["off_b"]
    mbw, mbh = sps["mbw"], sps["mbh"]
    plane = np.zeros((mbh * 16, mbw * 16), np.uint8)
    plane_w = mbw * 16
    nnz = np.zeros((mbh * 4, mbw * 4), np.int32)
    # a pre-chroma (gray) reference picture: mid-grey chroma, matching
    # what its own decode produced
    if is_p and cref is None:
        cref = np.full((2, mbh * 8, mbw * 8), 128, np.uint8)
    r0, r1 = rows if rows is not None else (0, mbh)
    _set_slice_top(r0)
    if pic:  # shared picture state across this picture's slices (r7)
        plane, nnz = pic["plane"], pic["nnz"]
        cc, modes, qp_map, mvs = pic["cc"], pic["modes"], pic["qp_map"], pic["mvs"]
    else:
        cc = _ChromaState(mbw, mbh, ref=cref)
        modes = np.full((mbh * 4, mbw * 4), -1, np.int32)
        qp_map = np.zeros((mbh, mbw), np.int32)
        mvs = _MvState(mbw, mbh) if is_p else None
        if pic is not None:
            pic.update(plane=plane, nnz=nnz, cc=cc, modes=modes,
                       qp_map=qp_map, mvs=mvs)
    run_pending = None  # skip run not yet read for the next coded MB
    for my in range(r0, r1):
        for mx in range(mbw):
            if is_p:
                if run_pending is None:
                    run_pending = r.ue()  # mb_skip_run
                if run_pending > 0:
                    run_pending -= 1
                    _skip_mb(plane, ref, mx, my, nnz, cc, modes, mvs)
                    qp_map[my, mx] = qp
                    continue
                run_pending = None  # this position is the coded MB
            mb_type = r.ue()
            if is_p:
                if mb_type == 0:  # P_L0_16x16
                    qp = _decode_mb_p16(r, plane, ref, mx, my, qp, nnz,
                                        cc, modes, mvs)
                    qp_map[my, mx] = qp
                    continue
                if mb_type in (1, 2):  # P_L0_L0_16x8 / P_L0_L0_8x16 (r6)
                    qp = _decode_mb_p_part(r, mb_type, plane, ref, mx, my,
                                           qp, nnz, cc, modes, mvs)
                    qp_map[my, mx] = qp
                    continue
                if mb_type in (3, 4):  # P_8x8 / P_8x8ref0 (r6)
                    qp = _decode_mb_p8x8(r, plane, ref, mx, my, qp, nnz,
                                         cc, modes, mvs)
                    qp_map[my, mx] = qp
                    continue
                mb_type -= 5  # intra in a P slice
            if mb_type == 25:  # I_PCM
                r.align()
                luma = np.frombuffer(r.raw(256), np.uint8).reshape(16, 16)
                for ci in range(2):  # raw Cb then Cr samples (r7)
                    cc.store(ci, mx, my,
                             np.frombuffer(r.raw(64), np.uint8)
                               .reshape(8, 8).astype(np.int32))
                plane[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = luma
                # 9.2.1: I_PCM neighbours count as TotalCoeff 16
                nnz[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = 16
                cc.nnz[:, my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 16
                modes[my * 4:my * 4 + 4, mx * 4:mx * 4 + 4] = -1
                qp_map[my, mx] = 0  # 8.7: I_PCM filters with QP 0
            elif mb_type == 0:
                qp = _decode_mb_i4x4(r, plane, mx, my, qp, nnz, cc,
                                     modes, plane_w)
                qp_map[my, mx] = qp
            elif 1 <= mb_type <= 24:
                qp = _decode_mb_i16(r, mb_type, plane, mx, my, qp, nnz,
                                    cc, modes)
                qp_map[my, mx] = qp
            else:
                raise ValueError(f"bad mb_type {mb_type}")
            if is_p:
                mvs.set_mb(mx, my, (0, 0), -1)  # intra: no motion
    _set_slice_top(0)
    if r1 < mbh:
        return None  # more slices of this picture follow (r7)
    if do_filter and int(qp_map.max()) + max(off_a, off_b, 0) >= 16:
        # intra/inter prediction consumed the unfiltered plane above; the
        # OUTPUT picture is the filtered one (8.7). Below qp 16 every
        # alpha threshold is 0 (I_PCM pictures: qp 0), so skip.
        if is_p:
            plane = _deblock_luma_inter(plane, qp_map, nnz, mvs, off_a,
                                        off_b)
            cc.planes = _deblock_chroma(cc.planes, qp_map, off_a, off_b,
                                        nnz=nnz, mvs=mvs)
        else:
            plane = _deblock_luma(plane, qp_map, off_a, off_b)
            cc.planes = _deblock_chroma(cc.planes, qp_map, off_a, off_b)
    # FULL (uncropped) planes: the DPB reference for motion compensation
    # is the decoded mb-aligned picture; cropping is display-only
    return plane, cc.planes


def _peek_slice(sample: bytes, avcc: bytes) -> tuple[int, int]:
    """(nal_type, nal_ref_idc) of the first slice NAL in a sample."""
    length_size = (avcc[4] & 3) + 1
    pos = 0
    while pos + length_size <= len(sample):
        ln = int.from_bytes(sample[pos: pos + length_size], "big")
        nal = sample[pos + length_size: pos + length_size + ln]
        pos += length_size + ln
        if nal and (nal[0] & 0x1F) in (1, 5):
            return nal[0] & 0x1F, (nal[0] >> 5) & 3
    raise ValueError("no slice NAL in sample")


def decode_samples(samples: list[bytes], avcc: bytes,
                   with_chroma: bool = False) -> list:
    """Sequential GOP decode, in decode order. The one reference is the
    last REFERENCE picture (nal_ref_idc != 0); every P slice predicts
    from it, and an IDR resets it (closed GOPs). A non-reference
    picture is output but never predicted from.
    Returns cropped gray frames, or (gray, (2, h/2, w/2) chroma) pairs
    when with_chroma=True (r7: chroma reconstructs for real). B slices,
    and P slices with more than one active reference, raise
    ValueError."""
    sps, _pps = _avcc_param_sets(avcc)
    h2, w2 = (sps["h"] + 1) // 2, (sps["w"] + 1) // 2
    out = []
    ref = (None, None)  # (luma FULL, chroma FULL) of the last reference
    for s in samples:
        typ, ref_idc = _peek_slice(s, avcc)
        if typ == 5:
            ref = (None, None)  # IDR: closed GOP
        full = decode_sample(s, avcc, ref=ref[0], cref=ref[1],
                             full_plane=True, with_chroma=True)
        if ref_idc:
            ref = full
        y, c = full
        out.append((y[:sps["h"], :sps["w"]], c[:, :h2, :w2]) if with_chroma
                   else y[:sps["h"], :sps["w"]])
    return out


def decode_sample(sample: bytes, avcc: bytes, ref: np.ndarray | None = None,
                  full_plane: bool = False,
                  cref: np.ndarray | None = None,
                  with_chroma: bool = False):
    """Length-prefixed NAL sample + avcC -> gray frame (or (gray,
    chroma) when with_chroma=True). Decodes I_PCM, CAVLC intra
    (I_4x4 / I_16x16), and CAVLC P slices (P_SKIP +
    P_L0_16x16 + 16x8/8x16 partitions, quarter-pel MC, `ref` = the
    one reference: the previous reference picture's FULL decoded
    plane, `cref` its chroma pair — use decode_samples for GOP
    streams). 4:2:0 chroma reconstructs for real since r7 (intra
    DC/H/V prediction, 2x2 Hadamard DC + AC residual, eighth-pel
    bilinear MC). P_8x8 decodes every sub_mb_type shape
    (8x8/8x4/4x8/4x4, r7).
    Out-of-profile features (B slices, CABAC, the 8x8 transform and
    the other High-profile tools, explicit weighted prediction, more
    than one active L0 reference) raise ValueError — the documented
    well-formed-unsupported stub path in sample_frames."""
    sps, pps = _avcc_param_sets(avcc)
    length_size = (avcc[4] & 3) + 1
    mbw, mbh = sps["mbw"], sps["mbh"]
    # collect the picture's slice NALs first (multi-slice pictures, r7)
    slices = []  # (nal_type, nal_ref_idc, hdr, positioned reader)
    pos = 0
    while pos + length_size <= len(sample):
        ln = int.from_bytes(sample[pos: pos + length_size], "big")
        nal = sample[pos + length_size: pos + length_size + ln]
        pos += length_size + ln
        if not nal:
            continue
        typ = nal[0] & 0x1F
        if typ not in (1, 5):
            continue  # SPS/PPS/SEI in-band: skip
        r = _BitReader(_ep_remove(nal[1:]))
        try:
            hdr = _parse_slice_header(r, sps, pps, typ, (nal[0] >> 5) & 3)
        except (IndexError, TypeError, KeyError, struct.error) as e:
            raise ValueError(f"corrupt H.264 sample ({type(e).__name__})")
        slices.append((typ, (nal[0] >> 5) & 3, hdr, r))
    if not slices:
        raise ValueError("no slice NAL in sample")
    firsts = [s[2]["first_mb"] for s in slices]
    if (firsts[0] != 0 or any(f % mbw for f in firsts)
            or any(b <= a for a, b in zip(firsts, firsts[1:]))
            or any(f >= mbw * mbh for f in firsts)):
        raise ValueError(
            "unsupported slice layout: slices must start at MB-row "
            "boundaries, in raster order, starting at 0")
    if any(s[2]["is_p"] != slices[0][2]["is_p"] for s in slices):
        raise ValueError("mixed slice types within a picture")
    ranges = [(firsts[i] // mbw,
               firsts[i + 1] // mbw if i + 1 < len(slices) else mbh)
              for i in range(len(slices))]
    pic: dict = {}
    full = None
    for (typ, ref_idc, hdr, r), rows in zip(slices, ranges):
        try:
            full = _decode_islice(r, sps, pps, typ, ref=ref,
                                  nal_ref_idc=ref_idc, cref=cref,
                                  hdr=hdr, rows=rows, pic=pic)
        except (IndexError, TypeError, KeyError, struct.error) as e:
            # corrupted entropy payload desynced the parser: normalize to
            # the ValueError contract callers map to errors-as-data
            raise ValueError(f"corrupt H.264 sample ({type(e).__name__})")
    if full is None:  # last slice did not reach the bottom MB row
        raise ValueError("picture's slices do not cover the frame")
    y, c = full
    if not with_chroma:
        return y if full_plane else y[:sps["h"], :sps["w"]]
    if full_plane:
        return y, c
    h2, w2 = (sps["h"] + 1) // 2, (sps["w"] + 1) // 2
    return y[:sps["h"], :sps["w"]], c[:, :h2, :w2]
