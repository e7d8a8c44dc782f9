"""H.264 4:2:0 chroma residual coding (r7): CAVLC I/P + I_PCM.

Gate, same as the luma matrix: decode(encode(x)) == the encoder's own
reconstruction BIT-EXACTLY (shared dequant arithmetic), plus quality
monotonicity vs QP and pre-r7 gray-stream bitstream stability.
Reference analog: none (the reference does no video) — north-star
surface, mapping H.264 semantics from the public spec (Rec. ITU-T
H.264 8.3.4, 8.4.2.2.2, 8.5.11, 9.2).
"""

import struct

import numpy as np
import pytest

from extractors_geo_spark import h264 as H
from extractors_geo_spark import mp4 as M


def _mkframe(i, w=48, h=32):
    gy, gx = np.mgrid[0:h, 0:w]
    y = ((gx * 5 + gy * 3 + i * 4) % 230).astype(np.uint8)
    cy, cx = np.mgrid[0:h // 2, 0:w // 2]
    cb = np.roll((cx * 9 + i * 7) % 250, i, axis=1).astype(np.uint8)
    cr = np.roll((cy * 13 + 60) % 250, i, axis=0).astype(np.uint8)
    return y, np.stack([cb, cr])


def _one_sample(rbsp, nal_hdr=0x65):
    nal = bytes([nal_hdr]) + H._ep_insert(rbsp)
    return struct.pack(">I", len(nal)) + nal


def test_chroma_dc_quant_closure_bounded():
    """2x2 Hadamard DC quant/dequant closes to within ~qstep/2 of the
    per-block DC mean at every QP (the r5 lesson: verify scale
    numerically, never trust remembered spec constants)."""
    rng = np.random.default_rng(7)
    for qp in (0, 10, 24, 40, 51):
        qc = H._qpc(qp)
        qstep = 0.625 * 2 ** (qc / 6)
        for _ in range(50):
            resid = rng.integers(-80, 80, (8, 8)).astype(np.int32)
            dcs = np.empty((2, 2), np.int64)
            for blk in range(4):
                ox, oy = (blk % 2) * 4, (blk // 2) * 4
                dcs[blk // 2, blk % 2] = H._fwd4(
                    resid[oy:oy + 4, ox:ox + 4])[0, 0]
            lv = H._quant_dc2(H._H2.astype(np.int64) @ dcs @ H._H2, qc)
            dcv = H._dequant_dc2(lv, qc)
            for blk in range(4):
                ox, oy = (blk % 2) * 4, (blk // 2) * 4
                d = np.zeros((4, 4), np.int64)
                d[0, 0] = dcv[blk // 2, blk % 2]
                rec = H._inv4(d)[0, 0]
                mean = resid[oy:oy + 4, ox:ox + 4].mean()
                assert abs(rec - mean) <= qstep / 2 + 1.0, (qp, rec, mean)


def test_chroma_pred_modes():
    plane = np.arange(256, dtype=np.uint8).reshape(16, 16)
    # horizontal: rows replicate the left column
    p = H._pred_chroma8(plane, 1, 0, 1, True, False)
    assert np.array_equal(p, plane[0:8, 7][:, None] * np.ones(8, np.int32))
    # vertical: columns replicate the top row
    p = H._pred_chroma8(plane, 0, 1, 2, False, True)
    assert np.array_equal(p, np.tile(plane[7, 0:8].astype(np.int32), (8, 1)))
    # DC with no neighbours is mid-grey
    p = H._pred_chroma8(plane, 0, 0, 0, False, False)
    assert np.all(p == 128)
    # plane mode (r7): an exact planar surface predicts itself
    yy, xx = np.mgrid[0:16, 0:16]
    ramp = (60 + 3 * xx + 2 * yy).astype(np.uint8)
    p = H._pred_chroma8(ramp, 1, 1, 3, True, True)
    want = ramp[8:16, 8:16].astype(np.int32)
    assert np.abs(p - want).max() <= 2
    # plane mode needs both neighbours
    with pytest.raises(ValueError):
        H._pred_chroma8(plane, 1, 0, 3, True, False)


def test_chroma_mc_integer_and_fractional():
    ref = np.arange(64, dtype=np.uint8).reshape(8, 8)
    # integer chroma position (mv multiple of 8): plain shifted copy
    out = H._interp_chroma(ref, 0, 0, 8, 0, 4, 4)
    assert np.array_equal(out, ref[0:4, 1:5].astype(np.int32))
    # half-position: bilinear average of the two horizontal neighbours
    out = H._interp_chroma(ref, 0, 0, 4, 0, 4, 4)
    exp = (ref[0:4, 0:4].astype(np.int32) + ref[0:4, 1:5] + 1) // 2
    assert np.abs(out - exp).max() <= 1


@pytest.mark.parametrize("qp", [6, 10, 16, 24, 32, 40])
def test_color_intra_decode_equals_recon(qp):
    y0, c0 = _mkframe(0)
    rbsp, (ry, rc) = H.encode_idr_cavlc(y0, qp=qp, chroma=c0,
                                        full_recon=True)
    avcc = H.build_avcc(48, 32, deblock_ctrl=True)
    dy, dc = H.decode_sample(_one_sample(rbsp), avcc, full_plane=True,
                             with_chroma=True)
    assert np.array_equal(dy, ry) and np.array_equal(dc, rc)


def test_color_quality_monotone_with_qp():
    y0, c0 = _mkframe(0)
    errs = []
    for qp in (6, 16, 32, 44):
        _, (_, rc) = H.encode_idr_cavlc(y0, qp=qp, chroma=c0,
                                        full_recon=True)
        errs.append(float(np.abs(rc[:, :16, :24].astype(int)
                                 - c0.astype(int)).mean()))
    assert errs == sorted(errs), errs
    assert errs[0] < 0.5  # near-lossless at qp 6


def test_color_p_decode_equals_recon():
    qp = 10
    y0, c0 = _mkframe(0)
    _, (ry0, rc0) = H.encode_idr_cavlc(y0, qp=qp, chroma=c0,
                                       full_recon=True)
    y1, c1 = _mkframe(1)
    rb1, (ry1, rc1) = H.encode_p_cavlc(y1, ry0, qp=qp, chroma=c1,
                                       cref=rc0)
    avcc = H.build_avcc(48, 32, deblock_ctrl=True)
    dy, dc = H.decode_sample(_one_sample(rb1, 0x41), avcc, ref=ry0,
                             cref=rc0, full_plane=True, with_chroma=True)
    assert np.array_equal(dy, ry1) and np.array_equal(dc, rc1)


def test_color_pgop_end_to_end():
    ys, cs = zip(*[_mkframe(i) for i in range(7)])
    avcc, samples = H.encode_frames(list(ys), qp=10, gop=3,
                                    chromas=list(cs))
    out = H.decode_samples(samples, avcc, with_chroma=True)
    assert len(out) == 7
    for i, (y, c) in enumerate(out):
        assert c.shape == (2, 16, 24)
        assert float(np.abs(c.astype(int) - cs[i].astype(int)).mean()) < 1.0
        assert float(np.abs(y.astype(int) - ys[i].astype(int)).mean()) < 1.0


def test_ipcm_color_bit_exact():
    ys, cs = zip(*[_mkframe(i) for i in range(2)])
    avcc, samples = H.encode_frames(list(ys), qp=None, chromas=list(cs))
    out = H.decode_samples(samples, avcc, with_chroma=True)
    for i, (y, c) in enumerate(out):
        assert np.array_equal(y, ys[i]) and np.array_equal(c, cs[i])


def test_color_mp4_gray_pipeline_unaffected():
    """A color MP4 still frame-samples through the gray pipeline (the
    luma plane is the gray conversion), and a gray read of the same
    clip ignores chroma entirely."""
    ys, cs = zip(*[_mkframe(i) for i in range(5)])
    data = M.write_h264_mp4(list(ys), fps=2, qp=10, gop=2,
                            chromas=list(cs))
    info = M.read_mjpeg_mp4(data)
    assert info["codec"] == "h264" and info["avcc"] is not None
    frames = H.decode_samples(info["frames"], info["avcc"])
    assert len(frames) == 5
    for i, f in enumerate(frames):
        assert float(np.abs(f.astype(int) - ys[i].astype(int)).mean()) < 1.0
    # and the chroma is really in the file: color decode recovers it
    colored = H.decode_samples(info["frames"], info["avcc"],
                               with_chroma=True)
    for i, (_, c) in enumerate(colored):
        assert float(np.abs(c.astype(int) - cs[i].astype(int)).mean()) < 1.0


def test_fuzzed_color_samples_never_escape_valueerror():
    ys, cs = zip(*[_mkframe(i) for i in range(3)])
    avcc, samples = H.encode_frames(list(ys), qp=10, gop=3,
                                    chromas=list(cs))
    rng = np.random.default_rng(11)
    raised = 0
    for _ in range(60):
        blob = bytearray(samples[0])
        for _ in range(3):
            blob[rng.integers(8, len(blob))] ^= 1 << rng.integers(0, 8)
        try:
            H.decode_sample(bytes(blob), avcc, with_chroma=True)
        except ValueError:
            raised += 1
        # any other exception type escapes and fails the test
    assert raised > 0


def test_color_deblock_decode_equals_recon():
    """In-loop filter ON at qp >= 16: chroma deblocks on both sides
    (QPc-indexed thresholds, 2-tap filter) — decode == recon bit-exact
    through IDR + P."""
    ys, cs = zip(*[_mkframe(i) for i in range(4)])
    enc_i, enc_p = H.encode_idr_cavlc, H.encode_p_cavlc
    avcc = H.build_avcc(48, 32, deblock_ctrl=True)
    qp = 24
    rb0, (ry0, rc0) = enc_i(ys[0], qp=qp, deblock=True, chroma=cs[0],
                            full_recon=True)
    dy, dc = H.decode_sample(_one_sample(rb0), avcc, full_plane=True,
                             with_chroma=True)
    assert np.array_equal(dy, ry0) and np.array_equal(dc, rc0)
    # the filter actually moved chroma samples (not a no-op at qp 24)
    rb0u, (_, rc0u) = enc_i(ys[0], qp=qp, deblock=False, chroma=cs[0],
                            full_recon=True)
    assert not np.array_equal(rc0, rc0u)
    rb1, (ry1, rc1) = enc_p(ys[1], ry0, qp=qp, deblock=True,
                            chroma=cs[1], cref=rc0)
    dy, dc = H.decode_sample(_one_sample(rb1, 0x41), avcc, ref=ry0,
                             cref=rc0, full_plane=True, with_chroma=True)
    assert np.array_equal(dy, ry1) and np.array_equal(dc, rc1)


def test_chroma_mode_search_emits_nondc_and_roundtrips():
    """r7: the encoder picks the best chroma intra mode per MB (DC/H/V/
    plane). Planar chroma makes mode 3 win; the stream decodes == recon
    and the non-DC mode is really in the bitstream (a DC-only decode
    would mispredict)."""
    h, w = 32, 48
    y0 = ((np.mgrid[0:h, 0:w][1] * 5) % 230).astype(np.uint8)
    cy, cx = np.mgrid[0:h // 2, 0:w // 2]
    chroma = np.stack([(40 + 4 * cx + 3 * cy).astype(np.uint8),
                       (200 - 3 * cx - 2 * cy).astype(np.uint8)])
    picked = []
    orig = H._pick_chroma_mode

    def spy(*a, **k):
        icp, pred = orig(*a, **k)
        picked.append(icp)
        return icp, pred

    H._pick_chroma_mode = spy
    try:
        rbsp, (ry, rc) = H.encode_idr_cavlc(y0, qp=10, chroma=chroma,
                                            full_recon=True)
    finally:
        H._pick_chroma_mode = orig
    assert any(m != 0 for m in picked), picked
    avcc = H.build_avcc(w, h, deblock_ctrl=True)
    dy, dc = H.decode_sample(_one_sample(rbsp), avcc, full_plane=True,
                             with_chroma=True)
    assert np.array_equal(dy, ry) and np.array_equal(dc, rc)
    # planar chroma codes near-losslessly once the right mode is chosen
    assert float(np.abs(dc[:, :h // 2, :w // 2].astype(int)
                        - chroma.astype(int)).mean()) < 1.0
