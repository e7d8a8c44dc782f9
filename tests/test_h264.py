"""H.264 baseline intra: real NAL/SPS/PPS/slice structure with
Exp-Golomb + emulation prevention. I_PCM streams round-trip bit-exactly;
CAVLC intra streams (I_4x4 / I_16x16, entropy-coded) decode to the
encoder's reconstruction BIT-EXACTLY and land PSNR >= 40 dB vs the
source at low QP. CABAC raises the documented stub ValueError."""

import struct

import numpy as np
import pytest

from extractors_geo_spark import h264, mp4


def test_roundtrip_bit_exact_with_cropping_and_ep():
    rng = np.random.default_rng(3)
    for h, w in ((16, 16), (48, 64), (30, 50), (18, 34)):
        frames = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(3)]
        frames[0][:2, :6] = 0  # force 00 00 0x emulation-prevention patterns
        avcc, samples = h264.encode_frames(frames)
        for f, s in zip(frames, samples):
            np.testing.assert_array_equal(h264.decode_sample(s, avcc), f)
    with pytest.raises(ValueError, match="even"):
        h264.encode_frames([np.zeros((17, 33), np.uint8)])


def test_emulation_prevention_inverse():
    for payload in (b"\x00\x00\x00", b"\x00\x00\x01\x00\x00\x02",
                    b"\x00\x00\x03", b"ab\x00\x00\x00\x00c", bytes(range(256))):
        assert h264._ep_remove(h264._ep_insert(payload)) == payload
    # inserted stream never contains a raw start-code prefix
    assert b"\x00\x00\x01" not in h264._ep_insert(b"\x00\x00\x01\x00\x00\x01")


def _cabac_flagged(avcc: bytes) -> bytes:
    """The avcC with its PPS entropy_coding_mode_flag set to 1 (CABAC)."""
    avcc = bytearray(avcc)
    # locate the PPS RBSP: 6 cfg bytes + sps_len + (1 numPPS byte + 2 len)
    (sps_len,) = struct.unpack(">H", bytes(avcc[6:8]))
    pps_off = 8 + sps_len + 1 + 2 + 1  # + NAL header byte
    first = h264._ep_remove(bytes(avcc[pps_off:]))
    r = h264._BitReader(first)
    r.ue(); r.ue()
    bitpos = r.pos  # entropy_coding_mode_flag position
    patched = bytearray(first)
    patched[bitpos >> 3] |= 0x80 >> (bitpos & 7)
    return bytes(avcc[:pps_off]) + h264._ep_insert(bytes(patched))


def test_cabac_flag_mismatch_is_errors_as_data():
    """A CABAC-flagged PPS (entropy_coding_mode_flag 1) raises ValueError
    instead of garbling: CABAC is outside the decoder's scope, so the
    stream takes the errors-as-data path callers map to the
    well-formed-unsupported contract."""
    avcc = _cabac_flagged(h264.build_avcc(16, 16))
    img = np.zeros((16, 16), np.uint8)
    _, samples = h264.encode_frames([img])
    with pytest.raises(ValueError, match="CABAC"):
        h264.decode_sample(samples[0], avcc)


def test_sample_frames_cabac_clip_raises(spark):
    """A well-formed MP4 whose avcC advertises CABAC takes sample_frames'
    well-formed-unsupported branch: the job fails with the
    unsupported-codec error instead of emitting frame rows. The same
    clip with its CAVLC avcC yields real frames."""
    from extractors_geo_spark.operators import multimodal as M

    frames = [np.full((16, 16), 40 * f, np.uint8) for f in range(2)]
    avcc, samples = h264.encode_frames(frames)

    def clip(rec):
        return bytearray(mp4._assemble_mp4(
            samples, 16, 16, 1, fourcc=b"avc1", depth=24,
            entry_extra=mp4._box(b"avcC", rec)))

    base = spark.createDataFrame([("cavlc", clip(avcc))],
                                 "video_id string, bytes binary")
    assert M.sample_frames(base, every_ms=1000).count() == 2
    df = spark.createDataFrame([("cabac", clip(_cabac_flagged(avcc)))],
                               "video_id string, bytes binary")
    with pytest.raises(Exception, match="video codec not available"):
        M.sample_frames(df, every_ms=1000).collect()


def test_h264_frames_query_matches_its_oracle(spark):
    """The h264_frames entry of queries() against its SQL oracle on
    DuckDB: same rows, same columns (the fan-out of clip, frame,
    timestamp and dims over every coding shape)."""
    import duckdb

    import __spark_entry__ as E

    df = E.queries()["h264_frames"](spark, "")
    res = duckdb.connect().execute(E.SQL_H264_FRAMES)
    cols = [d[0] for d in res.description]
    assert sorted(df.columns) == sorted(cols)
    got = sorted(tuple(r) for r in df.select(*cols).collect())
    assert got == sorted(res.fetchall())


def test_vlc_tables_prefix_free():
    """Every CAVLC VLC table must be prefix-free or decoding is
    ambiguous — guards transcription slips in the spec tables."""
    from collections import Counter

    tabs = [t.values() for t in h264._CT_TABLES.values()]
    tabs += list(h264._TZ_TABLES.values())
    tabs += list(h264._TZ_CDC_TABLES.values())
    tabs += list(h264._RB_TABLES.values())
    for entries in tabs:
        codes = [format(b, f"0{l}b") for l, b in entries]
        assert len(set(codes)) == len(codes)
        for a in codes:
            for b in codes:
                assert a == b or not b.startswith(a)


def test_cavlc_residual_roundtrip_property():
    import random

    random.seed(9)
    for _ in range(400):
        n = random.choice([4, 15, 16])
        nC = -1 if n == 4 else random.choice([0, 1, 3, 5, 9, 17])
        scan = [0] * n
        for p in random.sample(range(n), random.randint(0, min(n, 12))):
            scan[p] = random.choice([1, 2, 7, 300, 2100, 9000]) * random.choice([-1, 1])
        bw = h264._BitWriter()
        h264._encode_residual(bw, scan, nC)
        bw.rbsp_trailing()
        got = h264._decode_residual(h264._BitReader(bytes(bw.buf)), nC, n)
        assert got == scan


def test_cavlc_roundtrip_decode_equals_encoder_recon():
    """decode(encode(x)) must equal the encoder's own reconstruction
    BIT-EXACTLY for any content and QP — the self-consistency contract
    (deblocking disabled in-stream, so any conformant decoder agrees)."""
    rng = np.random.default_rng(21)
    for t in range(40):
        h = 2 * int(rng.integers(5, 18))
        w = 2 * int(rng.integers(5, 18))
        if t % 3 == 0:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        elif t % 3 == 1:
            img = np.full((h, w), int(rng.integers(0, 256)), np.uint8)
            img[:4, :4] = rng.integers(0, 256, (4, 4))  # I16 + I4 mix
        else:
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
        qp = int(rng.integers(0, 52))
        _, recon = h264.encode_idr_cavlc(img, qp=qp)
        avcc, samples = h264.encode_frames([img], qp=qp)
        dec = h264.decode_sample(samples[0], avcc)
        np.testing.assert_array_equal(dec, recon)


def test_cavlc_low_qp_psnr_over_40():
    """VERDICT r4 #3 gate: transform-coded keyframes at low QP decode at
    PSNR >= 40 dB vs the source (natural-image-like fixture)."""
    rng = np.random.default_rng(4)
    yy, xx = np.mgrid[0:48, 0:64]
    img = (xx * 3.0 + yy * 2.0
           + 80 * np.exp(-((xx - 32) ** 2 + (yy - 24) ** 2) / 300.0)
           + rng.normal(0, 2, (48, 64)))
    img = np.clip(img, 0, 255).astype(np.uint8)
    for qp in (4, 8, 12):
        avcc, samples = h264.encode_frames([img], qp=qp)
        dec = h264.decode_sample(samples[0], avcc)
        mse = np.mean((dec.astype(np.float64) - img) ** 2)
        psnr = 10 * np.log10(255.0 ** 2 / mse)
        assert psnr >= 40.0, f"qp={qp}: {psnr:.1f} dB"
    # CAVLC actually compresses: entropy-coded stream much smaller than
    # the I_PCM equivalent
    ipcm_bytes = sum(len(s) for s in h264.encode_frames([img])[1])
    cavlc_bytes = sum(len(s) for s in h264.encode_frames([img], qp=8)[1])
    assert cavlc_bytes < ipcm_bytes / 2


def test_deblocking_roundtrip_bit_exact_and_active():
    """deblock=True streams (disable_deblocking_filter_idc=0) decode to
    the encoder's FILTERED recon bit-exactly; at coarse QP the in-loop
    filter measurably changes edge pixels and reduces blockiness."""
    rng = np.random.default_rng(17)
    yy, xx = np.mgrid[0:48, 0:48]
    img = np.clip((xx * 4 + yy * 3) % 256 + rng.normal(0, 3, (48, 48)),
                  0, 255).astype(np.uint8)
    for qp in (20, 32, 44):
        _, recon_f = h264.encode_idr_cavlc(img, qp=qp, deblock=True)
        avcc, samples = h264.encode_frames([img], qp=qp, deblock=True)
        dec = h264.decode_sample(samples[0], avcc)
        np.testing.assert_array_equal(dec, recon_f)
        # same stream content with the filter off differs at high qp
        _, recon_nf = h264.encode_idr_cavlc(img, qp=qp, deblock=False)
        if qp >= 32:
            assert not np.array_equal(recon_f, recon_nf), f"filter inactive qp={qp}"
            # blockiness proxy: mean |step| across MB column boundaries
            def blockiness(a):
                cols = [16, 32]
                return float(np.mean([np.abs(a[:, c].astype(int)
                                             - a[:, c - 1].astype(int)).mean()
                                      for c in cols]))
            assert blockiness(recon_f) <= blockiness(recon_nf) + 1e-9
    # I_PCM pictures keep bit-exact round trips (filter no-ops at qp 0)
    raw = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    avcc, samples = h264.encode_frames([raw])
    np.testing.assert_array_equal(h264.decode_sample(samples[0], avcc), raw)


def test_fuzzed_samples_never_escape_valueerror():
    """Randomly corrupted CAVLC samples either decode (aliasing is legal
    for entropy streams) or raise ValueError — never IndexError/
    TypeError/hangs that would kill a Spark task (errors-as-data)."""
    import random

    random.seed(11)
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    avcc, samples = h264.encode_frames([img], qp=8)
    for _ in range(200):
        s = bytearray(samples[0])
        for _k in range(random.randint(1, 8)):
            s[random.randrange(len(s))] = random.randrange(256)
        try:
            out = h264.decode_sample(bytes(s), avcc)
            assert out.dtype == np.uint8
        except ValueError:
            pass
    # truncations too
    for cut in (5, 9, 17, len(samples[0]) // 2):
        try:
            h264.decode_sample(samples[0][:cut], avcc)
        except ValueError:
            pass


def test_sample_frames_cavlc_h264_end_to_end(spark):
    """Transform-coded avc1 MP4 through the Spark sample_frames path:
    real entropy decode on executors, PSNR >= 40 at qp=8."""
    from extractors_geo_spark.operators import multimodal as M

    yy, xx = np.mgrid[0:16, 0:32]
    src = [((xx * 5 + yy * 3 + 13 * f) % 251).astype(np.uint8) for f in range(4)]
    data = mp4.write_h264_mp4(src, fps=2, qp=8)
    df = spark.createDataFrame([("hc1", bytearray(data))], "video_id string, bytes binary")
    rows = sorted(M.sample_frames(df, every_ms=1000).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 1000]
    for r in rows:
        got = np.frombuffer(bytes(r["frame"]), np.uint8).reshape(16, 32)
        ref = src[int(r["ts_ms"] * 2 / 1000)]
        mse = np.mean((got.astype(np.float64) - ref) ** 2)
        assert 10 * np.log10(255.0 ** 2 / max(mse, 1e-9)) >= 40.0


def test_sample_frames_ipcm_h264_end_to_end(spark):
    from extractors_geo_spark.operators import multimodal as M

    yy, xx = np.mgrid[0:16, 0:32]
    src = [((xx * 5 + yy * 3 + 13 * f) % 251).astype(np.uint8) for f in range(4)]
    data = mp4.write_h264_mp4(src, fps=2)  # 2 s clip
    df = spark.createDataFrame([("h1", bytearray(data))], "video_id string, bytes binary")
    rows = sorted(M.sample_frames(df, every_ms=1000).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 1000]
    for r in rows:
        got = np.frombuffer(bytes(r["frame"]), np.uint8).reshape(16, 32)
        np.testing.assert_array_equal(got, src[int(r["ts_ms"] * 2 / 1000)])


def test_gop_idr_p_roundtrip_bit_exact():
    """IDR+P group-of-pictures: decode_samples must equal the encoder's
    reconstruction chain BIT-EXACTLY (P_SKIP, motion-compensated
    P_L0_16x16, and intra-fallback MBs all covered)."""
    rng = np.random.default_rng(23)
    yy, xx = np.mgrid[0:48, 0:64]
    frames = []
    for f in range(6):
        img = np.clip((xx - 2 * f) * 3 + (yy + f) * 2
                      + 60 * np.exp(-(((xx - 30 - 3 * f) ** 2)
                                      + (yy - 20) ** 2) / 200.0)
                      + rng.normal(0, 1.5, (48, 64)), 0, 255).astype(np.uint8)
        frames.append(img)
    frames[4] = rng.integers(0, 256, (48, 64), dtype=np.uint8)  # scene cut -> intra fallback
    avcc, samples = h264.encode_frames(frames, qp=8, gop=6)
    # recon chain from the encoder side
    _, ref = h264.encode_idr_cavlc(frames[0], qp=8, full_recon=True)
    recons = [ref[:48, :64].copy()]
    for i, f in enumerate(frames[1:], start=1):
        _, ref = h264.encode_p_cavlc(f, ref, qp=8, frame_num=i)
        recons.append(ref[:48, :64].copy())
    dec = h264.decode_samples(samples, avcc)
    for i, (d, r) in enumerate(zip(dec, recons)):
        np.testing.assert_array_equal(d, r, err_msg=f"frame {i}")
    # quality: every decoded frame lands PSNR >= 40 vs its source
    for i, (d, f) in enumerate(zip(dec, frames)):
        mse = np.mean((d.astype(np.float64) - f) ** 2)
        assert 10 * np.log10(255.0 ** 2 / max(mse, 1e-9)) >= 40.0, i


def test_gop_static_scene_collapses_to_skip_runs():
    yy, xx = np.mgrid[0:48, 0:64]
    img = np.clip(xx * 3 + yy * 2, 0, 255).astype(np.uint8)
    avcc, samples = h264.encode_frames([img.copy() for _ in range(4)],
                                       qp=8, gop=4)
    # all-skip P frames are a handful of bytes (slice header + skip run)
    assert all(len(s) < 40 for s in samples[1:]), [len(s) for s in samples]
    dec = h264.decode_samples(samples, avcc)
    # later P frames are pure skips of the (refined) second frame
    np.testing.assert_array_equal(dec[2], dec[1])
    np.testing.assert_array_equal(dec[3], dec[1])


def test_gop_translation_is_motion_compensated():
    """A pure 2px/frame pan: P frames stay small (MVs, not residuals)
    and decode at high PSNR."""
    yy, xx = np.mgrid[0:48, 0:64]
    img = ((xx * 7 + yy * 5) % 251).astype(np.uint8)
    mov = [np.roll(img, 2 * f, axis=1) for f in range(4)]
    avcc, samples = h264.encode_frames(mov, qp=8, gop=4)
    assert all(len(s) < len(samples[0]) // 2 for s in samples[1:]), \
        [len(s) for s in samples]
    dec = h264.decode_samples(samples, avcc)
    for i, (d, f) in enumerate(zip(dec, mov)):
        # interior only: np.roll wraps, real motion comp clamps at edges
        mse = np.mean((d[:, 8:-8].astype(np.float64) - f[:, 8:-8]) ** 2)
        assert 10 * np.log10(255.0 ** 2 / max(mse, 1e-9)) >= 40.0, i


def test_p_slice_without_reference_raises():
    yy, xx = np.mgrid[0:16, 0:16]
    img = (xx * 9 % 256).astype(np.uint8)
    avcc, samples = h264.encode_frames([img, img], qp=8, gop=2)
    with pytest.raises(ValueError, match="reference"):
        h264.decode_sample(samples[1], avcc)  # P sample alone


def test_sample_frames_gop_h264_end_to_end(spark):
    """GOP avc1 MP4 through Spark sample_frames: mid-GOP (P) frames
    decode correctly via the sequential track decode."""
    from extractors_geo_spark import mp4
    from extractors_geo_spark.operators import multimodal as M

    yy, xx = np.mgrid[0:16, 0:32]
    src = [np.roll(((xx * 5 + yy * 3) % 251).astype(np.uint8), 2 * f, axis=1)
           for f in range(4)]
    data = mp4.write_h264_mp4(src, fps=1, qp=8, gop=4)  # 4 s clip
    df = spark.createDataFrame([("g1", bytearray(data))],
                               "video_id string, bytes binary")
    rows = sorted(M.sample_frames(df, every_ms=1000).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 1000, 2000, 3000]
    for r in rows:
        got = np.frombuffer(bytes(r["frame"]), np.uint8).reshape(16, 32)
        ref = src[r["ts_ms"] // 1000]
        mse = np.mean((got[:, 8:-8].astype(np.float64) - ref[:, 8:-8]) ** 2)
        assert 10 * np.log10(255.0 ** 2 / max(mse, 1e-9)) >= 38.0


def test_p_partitions_16x8_8x16_roundtrip_bit_exact():
    """r6: P_L0_L0_16x8 / 8x16 partitions — a scene whose halves move in
    opposite directions makes the partition gate fire; decode == recon
    bit-exact and the partitioned decode path is actually exercised."""
    yy, xx = np.mgrid[0:48, 0:64]

    def frame(f):
        a = np.clip(128 + 90 * np.sin((xx + 4 * f) / 5), 0, 255)
        b = np.clip(128 + 90 * np.sin((xx - 4 * f) / 5 + 1), 0, 255)
        return np.where(yy < 24, a, b).astype(np.uint8)

    frames = [frame(f) for f in range(4)]
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True)
    import struct

    def dec(rbsp, idr, ref=None):
        nal = bytes([0x65 if idr else 0x41]) + h264._ep_insert(rbsp)
        return h264.decode_sample(struct.pack(">I", len(nal)) + nal, avcc,
                                  ref=ref, full_plane=True)

    hits = []
    orig = h264._decode_mb_p_part

    def spy(*a, **k):
        hits.append(a[1])
        return orig(*a, **k)

    h264._decode_mb_p_part = spy
    try:
        rbsp, ref = h264.encode_idr_cavlc(frames[0], qp=12, full_recon=True)
        assert np.array_equal(dec(rbsp, True), ref)
        for fn, f in enumerate(frames[1:], 1):
            prbsp, recon = h264.encode_p_cavlc(f, ref, qp=12, frame_num=fn)
            assert np.array_equal(dec(prbsp, False, ref), recon), fn
            ref = recon
    finally:
        h264._decode_mb_p_part = orig
    assert hits, "partition mb_types never chosen — gate regressed"


def test_p_partition_mvp_rules_roundtrip_random():
    """Property: random-ish motion content round-trips bit-exactly with
    partitions enabled (exercises the 8.4.1.3 directional predictors)."""
    import struct

    rng = np.random.default_rng(21)
    yy, xx = np.mgrid[0:48, 0:64]
    smooth = np.clip(128 + 70 * np.sin(xx / 6) + 40 * np.cos(yy / 9)
                     + rng.normal(0, 4, (48, 64)), 0, 255).astype(np.uint8)
    frames = [smooth]
    for f in range(1, 4):
        # shear: rows shift by different amounts -> partitions pay off
        shifted = np.empty_like(smooth)
        for r in range(48):
            s = (f * (1 + r // 16)) % 64
            shifted[r] = np.roll(smooth[r], s)
        frames.append(shifted)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True)

    def dec(rbsp, idr, ref=None):
        nal = bytes([0x65 if idr else 0x41]) + h264._ep_insert(rbsp)
        return h264.decode_sample(struct.pack(">I", len(nal)) + nal, avcc,
                                  ref=ref, full_plane=True)

    rbsp, ref = h264.encode_idr_cavlc(frames[0], qp=14, full_recon=True)
    assert np.array_equal(dec(rbsp, True), ref)
    for fn, f in enumerate(frames[1:], 1):
        prbsp, recon = h264.encode_p_cavlc(f, ref, qp=14, frame_num=fn)
        assert np.array_equal(dec(prbsp, False, ref), recon), fn
        ref = recon


# ---------------------------------------------------------- r6: B slices
def _bgop_frames(n=10, w=64, h=48):
    yy, xx = np.mgrid[0:h, 0:w]
    return [np.clip(128 + 100 * np.sin((xx + 3 * f) / 5) + yy / 4, 0, 255)
            .astype(np.uint8) for f in range(n)]


def test_b_slices_decode_equals_recon_bit_exact():
    """B_L0/B_L1/B_Bi 16x16: each B sample decodes to the encoder's
    reconstruction bit-exactly given the same two reference planes."""
    import struct

    frames = _bgop_frames(4)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True, bpoc=True)

    def dec(rbsp, typ, ref_idc, ref=None, ref2=None):
        nal = bytes([(ref_idc << 5) | typ]) + h264._ep_insert(rbsp)
        return h264.decode_sample(struct.pack(">I", len(nal)) + nal, avcc,
                                  ref=ref, ref2=ref2, full_plane=True)

    _, r0 = h264.encode_idr_cavlc(frames[0], qp=12, full_recon=True,
                                  poc_lsb=0)
    _, r3 = h264.encode_p_cavlc(frames[3], r0, qp=12, frame_num=1,
                                poc_lsb=6)
    for b in (1, 2):
        rb, rec = h264.encode_b_cavlc(frames[b], r0, r3, qp=12,
                                      poc_lsb=2 * b)
        assert np.array_equal(dec(rb, 1, 0, ref=r0, ref2=r3), rec), b
    # missing references raise
    rb, _ = h264.encode_b_cavlc(frames[1], r0, r3, qp=12, poc_lsb=2)
    with pytest.raises(ValueError, match="reference"):
        dec(rb, 1, 0, ref=r0)


def test_bgop_display_reordering_and_quality():
    """encode_frames_bgop emits decode-order IBBP samples; decode_samples
    reorders to display by POC; every display frame lands PSNR >= 40 and
    all three B prediction modes appear across the stream."""
    frames = _bgop_frames(10)
    avcc, samples, disp = h264.encode_frames_bgop(frames, qp=12, gop=8,
                                                  bframes=2)
    assert sorted(disp) == list(range(10)) and disp != list(range(10))
    seen = []
    orig = h264._decode_mb_b16

    def spy(r, mb_type, *a, **k):
        seen.append(mb_type)
        return orig(r, mb_type, *a, **k)

    h264._decode_mb_b16 = spy
    try:
        decs = h264.decode_samples(samples, avcc)
    finally:
        h264._decode_mb_b16 = orig
    assert len(decs) == 10 and seen
    for i, (f, d) in enumerate(zip(frames, decs)):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40, i
    # B pictures compress harder than the P they sit between
    b_sizes = [len(s) for s, dx in zip(samples, disp) if dx % 3 != 0]
    p_sizes = [len(s) for s, dx in zip(samples, disp)
               if dx % 3 == 0 and dx != 0 and dx % 8 != 0]
    assert b_sizes and p_sizes
    assert float(np.mean(b_sizes)) < float(np.mean(p_sizes))


def test_bgop_closed_gop_boundaries():
    """B frames never cross an IDR: every GOP's last display frame is a
    reference, so a multi-GOP stream decodes with a DPB that resets at
    each IDR."""
    frames = _bgop_frames(19)
    avcc, samples, disp = h264.encode_frames_bgop(frames, qp=14, gop=8,
                                                  bframes=2)
    decs = h264.decode_samples(samples, avcc)
    assert len(decs) == 19
    for i, (f, d) in enumerate(zip(frames, decs)):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 38, i


def test_bgop_mp4_ctts_roundtrip():
    """write_h264_mp4(bframes=2) carries decode-order samples + ctts;
    read_mjpeg_mp4 exposes composition timestamps; decode_samples +
    sorted timestamps reconstruct the display timeline."""
    frames = _bgop_frames(9, 32, 32)
    data = mp4.write_h264_mp4(frames, fps=2, qp=12, gop=8, bframes=2)
    parsed = mp4.read_mjpeg_mp4(data)
    assert parsed["codec"] == "h264" and len(parsed["frames"]) == 9
    ts = parsed["timestamps_ms"]
    assert sorted(ts) == [500 * i for i in range(9)]
    assert ts != sorted(ts)  # decode order differs from display order
    decs = h264.decode_samples(list(parsed["frames"]), parsed["avcc"])
    for i, (f, d) in enumerate(zip(frames, decs)):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40, i


def test_sample_frames_bframes_end_to_end(spark):
    from extractors_geo_spark.operators import multimodal as M

    frames = _bgop_frames(9, 32, 32)
    data = mp4.write_h264_mp4(frames, fps=2, qp=12, gop=8, bframes=2)
    df = spark.createDataFrame([("vb", bytearray(data))],
                               "video_id string, bytes binary")
    out = M.sample_frames(df, every_ms=500).collect()
    assert len(out) == 9
    for r in out:
        arr = np.frombuffer(r["frame"], np.uint8).reshape(r["fh"], r["fw"])
        src = frames[r["ts_ms"] // 500]  # display-order source frame
        mse = float(np.mean((arr.astype(np.float64) - src) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40, r["ts_ms"]


def test_b_skip_and_direct_modes():
    """r6: B_SKIP collapses static B pictures to a handful of bytes,
    and B_Direct_16x16 (spatial) round-trips
    bit-exactly with residuals."""
    import struct

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.clip(128 + 80 * np.sin(xx / 6), 0, 255).astype(np.uint8)
    static = [img] * 5
    avcc, samples, disp = h264.encode_frames_bgop(
        static, qp=12, gop=8, bframes=2)
    b_sizes = [len(s) for s, d in zip(samples, disp) if d in (1, 2)]
    assert b_sizes and all(b < 40 for b in b_sizes), b_sizes
    decs = h264.decode_samples(samples, avcc)
    for d in decs:  # B recon averages the two refs: near-identical
        mse = float(np.mean((d.astype(np.float64) - img) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45
    # direct WITH residual: slight global brightness change -> direct MVs
    # predict perfectly modulo a DC shift the residual carries
    brighter = np.clip(img.astype(np.int32) + 6, 0, 255).astype(np.uint8)
    _, r0 = h264.encode_idr_cavlc(img, qp=8, full_recon=True, poc_lsb=0)
    _, r2 = h264.encode_p_cavlc(img, r0, qp=8, frame_num=1, poc_lsb=4)
    hits = []
    orig = h264._decode_mb_b16

    def spy(r, mb_type, *a, **k):
        hits.append(mb_type)
        return orig(r, mb_type, *a, **k)

    rb, rec = h264.encode_b_cavlc(brighter, r0, r2, qp=8, poc_lsb=2)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True, bpoc=True)
    nal = bytes([0x01]) + h264._ep_insert(rb)
    h264._decode_mb_b16 = spy
    try:
        dec = h264.decode_sample(struct.pack(">I", len(nal)) + nal, avcc,
                                 ref=r0, ref2=r2, full_plane=True)
    finally:
        h264._decode_mb_b16 = orig
    assert np.array_equal(dec, rec)
    assert 0 in hits  # B_Direct_16x16 actually chosen


def test_fuzzed_bgop_samples_never_escape_valueerror():
    """Corrupted B-GOP samples decode-or-ValueError,
    never IndexError/TypeError (errors-as-data for Spark tasks)."""
    rng = np.random.default_rng(31)
    yy, xx = np.mgrid[0:32, 0:32]
    frames = [np.clip(128 + 90 * np.sin((xx + 3 * f) / 5), 0, 255)
              .astype(np.uint8) for f in range(6)]
    avcc, samples, _disp = h264.encode_frames_bgop(
        frames, qp=10, gop=8, bframes=2)
    for _ in range(120):
        si = int(rng.integers(0, len(samples)))
        mut = bytearray(samples[si])
        mut[int(rng.integers(5, len(mut)))] ^= 1 << int(rng.integers(0, 8))
        muts = list(samples)
        muts[si] = bytes(mut)
        try:
            h264.decode_samples(muts, avcc)
        except ValueError:
            pass


def test_p8x8_partitions_roundtrip():
    """r6: P_8x8 (one 8x8 partition per sub-MB, quad motion) decodes
    bit-exactly, with the P_8x8 path exercised."""
    yy, xx = np.mgrid[0:32, 0:32]
    base = np.clip(128 + 90 * np.sin(xx / 3.5) + 20 * np.cos(yy / 5),
                   0, 255).astype(np.uint8)

    def frame(f):
        out = np.empty((32, 32), np.uint8)
        for ry in range(0, 32, 8):
            for rx_ in range(0, 32, 8):
                sx = (f * (1 + (rx_ // 8 + ry // 8) % 4)) % 32
                out[ry:ry + 8, rx_:rx_ + 8] = \
                    np.roll(base, sx, axis=1)[ry:ry + 8, rx_:rx_ + 8]
        return out

    frames = [frame(f) for f in range(4)]
    avcc = h264.build_avcc(32, 32, deblock_ctrl=True)
    hits = []
    orig = h264._decode_mb_p8x8

    def spy(*a, **k):
        hits.append(1)
        return orig(*a, **k)

    h264._decode_mb_p8x8 = spy
    try:
        _, ref = h264.encode_idr_cavlc(frames[0], qp=12, full_recon=True)
        for fn, f in enumerate(frames[1:], 1):
            prbsp, recon = h264.encode_p_cavlc(f, ref, qp=12, frame_num=fn)
            nal = bytes([0x41]) + h264._ep_insert(prbsp)
            d = h264.decode_sample(struct.pack(">I", len(nal)) + nal,
                                   avcc, ref=ref, full_plane=True)
            assert np.array_equal(d, recon), fn
            ref = recon
    finally:
        h264._decode_mb_p8x8 = orig
    assert hits, "P_8x8 never chosen"


def test_poc_msb_wrap_derivation():
    """8.2.1.1 PicOrderCntMsb: lsb wrap must not interleave GOPs (ADVICE
    r6 — previously display order used the raw 16-bit lsb)."""
    max_lsb = 16
    # increasing stream crossing two wraps: lsb = 2*i mod 16
    prev_msb = prev_lsb = 0
    pocs = []
    for i in range(24):
        lsb = (2 * i) % max_lsb
        msb = h264._poc_msb(lsb, prev_msb, prev_lsb, max_lsb)
        pocs.append(msb + lsb)
        prev_msb, prev_lsb = msb, lsb  # every picture a reference
    assert pocs == [2 * i for i in range(24)]
    # backward jump smaller than half the range is reordering, not a wrap
    assert h264._poc_msb(4, 0, 8, 16) == 0
    # reference past a wrap, current before it: msb steps back
    assert h264._poc_msb(14, 16, 0, 16) == 0


def test_p_sub8x8_partitions_roundtrip():
    """r7: P_8x8 sub-partitions (8x4 / 4x8 / 4x4) — frames with split
    motion INSIDE 8x8 regions force the finer shapes; decode == recon
    bit-exact, and at least one nonzero
    sub_mb_type is actually chosen (spied on _eval_p8x8's output)."""
    rng = np.random.default_rng(23)
    # low-contrast texture: a single-MV 16x16 prediction lands BETWEEN
    # the partition gate (6*256) and the intra-fallback gate (28*256),
    # while the split-motion sub-shapes match exactly
    base = rng.integers(108, 148, (48, 48)).astype(np.uint8)
    frames = [base]
    f1 = base.copy()
    # opposite horizontal motion for the top/bottom 4 rows of each 8-row
    # band: an 8x8 block whose halves move differently -> 8x4 wins
    for y0 in range(0, 48, 8):
        f1[y0:y0 + 4] = np.roll(base[y0:y0 + 4], 3, axis=1)
        f1[y0 + 4:y0 + 8] = np.roll(base[y0 + 4:y0 + 8], -3, axis=1)
    frames.append(f1)
    f2 = base.copy()
    for x0 in range(0, 48, 8):  # vertical split -> 4x8
        f2[:, x0:x0 + 4] = np.roll(base[:, x0:x0 + 4], 3, axis=0)
        f2[:, x0 + 4:x0 + 8] = np.roll(base[:, x0 + 4:x0 + 8], -3, axis=0)
    frames.append(f2)
    avcc = h264.build_avcc(48, 48, deblock_ctrl=True)
    chosen_sts = []
    orig = h264._eval_p8x8

    def spy(*a, **k):
        tot, parts = orig(*a, **k)
        chosen_sts.extend(st for st, _ in parts)
        return tot, parts

    h264._eval_p8x8 = spy
    try:
        _, ref = h264.encode_idr_cavlc(frames[0], qp=12, full_recon=True)
        for fn, f in enumerate(frames[1:], 1):
            prbsp, recon = h264.encode_p_cavlc(f, ref, qp=12, frame_num=fn)
            nal = bytes([0x41]) + h264._ep_insert(prbsp)
            d = h264.decode_sample(struct.pack(">I", len(nal)) + nal,
                                   avcc, ref=ref, full_plane=True)
            assert np.array_equal(d, recon), fn
            ref = recon
    finally:
        h264._eval_p8x8 = orig
    assert any(st != 0 for st in chosen_sts), \
        ("no sub-8x8 shape ever chosen", chosen_sts)


def test_mvp_sub_parity_random_gop():
    """Property: random small-motion GOPs round-trip bit-exact with the
    full sub-partition machinery enabled (any MVP asymmetry between the
    encoder's progressive commits and the decoder desyncs instantly)."""
    rng = np.random.default_rng(31)
    base = rng.integers(0, 250, (32, 48)).astype(np.uint8)
    frames = [base]
    for i in range(3):
        f = frames[-1].copy()
        # random per-quadrant jitter: a motion field that fractures MBs
        for y0 in range(0, 32, 8):
            for x0 in range(0, 48, 8):
                dx = int(rng.integers(-2, 3))
                f[y0:y0 + 8, x0:x0 + 8] = np.roll(
                    frames[-1][y0:y0 + 8, x0:x0 + 8], dx, axis=1)
        frames.append(f)
    avcc, samples = h264.encode_frames(frames, qp=12, gop=len(frames))
    out = h264.decode_samples(samples, avcc)
    # recon parity is asserted sample-by-sample inside decode (desync
    # raises); final frames must be reasonable reconstructions
    for got, want in zip(out, frames):
        assert float(np.abs(got.astype(int) - want.astype(int)).mean()) < 8.0


def test_b_partitioned_types_roundtrip():
    """r7: partitioned B macroblocks (mb_type 4..21 — 16x8 / 8x16 with
    per-partition L0 / L1 / Bi). Targets whose halves track DIFFERENT
    references force them; decode == recon bit-exact, partitioned types
    really chosen, mvds grouped by list round-trip the per-list
    progressive predictors."""
    import struct

    rng = np.random.default_rng(9)
    w, h = 48, 32
    base = rng.integers(108, 148, (h, w)).astype(np.uint8)
    r0 = base
    r1 = np.roll(base, 5, axis=1)
    tgt = base.copy()
    for y0 in range(0, h, 16):  # split INSIDE each MB row
        tgt[y0:y0 + 8] = np.roll(r0[y0:y0 + 8], 2, axis=1)
        tgt[y0 + 8:y0 + 16] = np.roll(r1[y0 + 8:y0 + 16], -2, axis=1)
    qp = 12
    flat = lambda v: np.full((2, h // 2, w // 2), v, np.uint8)
    enc_i, enc_p, enc_b = (h264.encode_idr_cavlc,
                           h264.encode_p_cavlc,
                           h264.encode_b_cavlc)
    _, (ry0, rc0) = enc_i(r0, qp=qp, chroma=flat(90), full_recon=True)
    _, (ry1, rc1) = enc_p(r1, ry0, qp=qp, chroma=flat(170), cref=rc0,
                          frame_num=1)
    hits = []
    orig = h264._eval_b_partitions

    def spy(*a, **k):
        out = orig(*a, **k)
        hits.append(out[1]["mb_type"])
        return out

    h264._eval_b_partitions = spy
    try:
        rb, (ryb, rcb) = enc_b(tgt, ry0, ry1, qp=qp, chroma=flat(128),
                               cref0=rc0, cref1=rc1, poc_lsb=2)
    finally:
        h264._eval_b_partitions = orig
    assert hits and all(4 <= m <= 21 for m in hits), hits
    avcc = h264.build_avcc(w, h, deblock_ctrl=True, bpoc=True)
    nal = bytes([0x01]) + h264._ep_insert(rb)
    sample = struct.pack(">I", len(nal)) + nal
    dy, dc = h264.decode_sample(sample, avcc, ref=ry0, ref2=ry1,
                                cref=rc0, cref2=rc1, full_plane=True,
                                with_chroma=True)
    assert np.array_equal(dy, ryb) and np.array_equal(dc, rcb)


def test_b8x8_sub_partitions_roundtrip_cavlc():
    """r7: B_8x8 (mb_type 22, Table 7-18 sub_mb_types) — each 8x8
    quadrant of an MB tracks a DIFFERENT reference/shift, so neither a
    whole-MB mode nor a 16x8/8x16 split can match; decode == recon
    bit-exact and the B_8x8 decode path is actually exercised."""
    import struct

    rng = np.random.default_rng(17)
    w, h = 48, 32
    base = rng.integers(100, 156, (h, w)).astype(np.uint8)
    r0 = base
    r1 = np.roll(base, 6, axis=0)
    tgt = base.copy()
    # quadrant motion field: (ref, dx) differs per 8x8 inside every MB
    quad = [((0, 2), (1, -2)), ((1, 3), (0, -3))]
    for my in range(h // 16):
        for mx in range(w // 16):
            for qy in range(2):
                for qx in range(2):
                    ref_i, dx = quad[qy][qx]
                    src = r0 if ref_i == 0 else r1
                    ys = slice(my * 16 + qy * 8, my * 16 + qy * 8 + 8)
                    xs = slice(mx * 16 + qx * 8, mx * 16 + qx * 8 + 8)
                    tgt[ys, xs] = np.roll(src[ys, xs], dx, axis=1)
    qp = 12
    flat = lambda v: np.full((2, h // 2, w // 2), v, np.uint8)
    _, (ry0, rc0) = h264.encode_idr_cavlc(r0, qp=qp, chroma=flat(90),
                                          full_recon=True)
    _, (ry1, rc1) = h264.encode_p_cavlc(r1, ry0, qp=qp, chroma=flat(170),
                                        cref=rc0, frame_num=1)
    rb, (ryb, rcb) = h264.encode_b_cavlc(tgt, ry0, ry1, qp=qp,
                                         chroma=flat(128), cref0=rc0,
                                         cref1=rc1, poc_lsb=2)
    avcc = h264.build_avcc(w, h, deblock_ctrl=True, bpoc=True)
    nal = bytes([0x01]) + h264._ep_insert(rb)
    sample = struct.pack(">I", len(nal)) + nal
    hits = []
    orig = h264._decode_mb_b8x8

    def spy(*a, **k):
        hits.append(1)
        return orig(*a, **k)

    h264._decode_mb_b8x8 = spy
    try:
        dy, dc = h264.decode_sample(sample, avcc, ref=ry0, ref2=ry1,
                                    cref=rc0, cref2=rc1, full_plane=True,
                                    with_chroma=True)
    finally:
        h264._decode_mb_b8x8 = orig
    assert hits, "no B_8x8 macroblock decoded — encoder gate regressed"
    assert np.array_equal(dy, ryb) and np.array_equal(dc, rcb)
    # the quadrant field must be well-predicted: B_8x8 found the motion
    assert float(np.abs(ryb.astype(int) - tgt.astype(int)).mean()) < 4.0


# ------------------------------------------------ r7: temporal direct
def test_temporal_direct_scaling_math():
    """8.4.1.2.3 MV scaling against hand-computed values: tx/dsf
    integer ops, intra colocated blocks -> zero MVs, td == 0 path,
    clipping bounds."""
    col_mv = np.zeros((4, 4, 2), np.int32)
    col_mv[0, 0] = (12, -8)
    col_mv[2, 3] = (-1000, 1000)
    col_ref = np.zeros((4, 4), np.int32)
    col_ref[1, 1] = -1  # intra colocated block
    tf0, tf1 = h264._temporal_fields(col_mv, col_ref, 2, 0, 6)
    tx = (16384 + 3) // 6
    dsf = (2 * tx + 32) >> 6

    def exp(v):
        return (dsf * v + 128) >> 8
    assert tuple(tf0[0, 0]) == (exp(12), exp(-8))
    assert tuple(tf1[0, 0]) == (exp(12) - 12, exp(-8) + 8)
    assert tuple(tf0[1, 1]) == (0, 0) and tuple(tf1[1, 1]) == (0, 0)
    assert tuple(tf0[2, 3]) == (exp(-1000), exp(1000))
    # td == 0: mvL0 = mvCol, mvL1 = 0 (spec special case)
    tf0z, tf1z = h264._temporal_fields(col_mv, col_ref, 2, 4, 4)
    assert tuple(tf0z[0, 0]) == (12, -8) and tuple(tf1z[0, 0]) == (0, 0)
    # _div_trunc truncates toward zero like the spec's '/'
    assert h264._div_trunc(7, -2) == -3 and h264._div_trunc(-7, 2) == -3
    # B before its L0 anchor in POC (tb negative) still derives
    tf0n, _ = h264._temporal_fields(col_mv, col_ref, -2, 0, 6)
    txn = (16384 + 3) // 6
    dsfn = (-2 * txn + 32) >> 6
    assert tuple(tf0n[0, 0]) == ((dsfn * 12 + 128) >> 8,
                                 (dsfn * -8 + 128) >> 8)


def test_temporal_direct_decode_equals_recon_bit_exact():
    """Temporal-direct B slices: decode == encoder recon bit-exactly,
    including a colocated P with sub-8x8 partitions
    (non-uniform per-4x4 col motion -> the per-block MC path)."""
    import struct

    rng = np.random.default_rng(11)
    base = rng.integers(40, 220, (48, 64)).astype(np.uint8)

    def shifted(dx_top, dx_bot):
        out = np.empty_like(base)
        out[:24] = np.roll(base[:24], dx_top, axis=1)
        out[24:] = np.roll(base[24:], dx_bot, axis=1)
        return out

    # halves move differently -> the P anchor codes distinct MVs, so
    # the colocated field varies MB-to-MB (and within MBs at the seam)
    f0, f1, f2 = base, shifted(2, -2), shifted(4, -4)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True, bpoc=True)
    enc_i, enc_p, enc_b = (h264.encode_idr_cavlc,
                           h264.encode_p_cavlc,
                           h264.encode_b_cavlc)
    _, r0 = enc_i(f0, qp=10, full_recon=True, poc_lsb=0)
    mo = []
    _, r2 = enc_p(f2, r0, qp=10, frame_num=1, poc_lsb=4,
                  motion_out=mo)
    assert (mo[0][1] >= 0).any(), "P anchor coded no inter MBs"
    pocs = (2, 0, 4)
    rb, rec = enc_b(f1, r0, r2, qp=10, poc_lsb=2,
                    col_motion=mo[0], pocs=pocs)
    nal = bytes([0x01]) + h264._ep_insert(rb)
    sample = struct.pack(">I", len(nal)) + nal
    dec = h264.decode_sample(sample, avcc, ref=r0, ref2=r2,
                             full_plane=True, col_motion=mo[0],
                             pocs=pocs)
    assert np.array_equal(dec, rec)
    # decoding the temporal stream WITHOUT colocated motion raises
    with pytest.raises(ValueError, match="colocated"):
        h264.decode_sample(sample, avcc, ref=r0, ref2=r2,
                           full_plane=True)


def test_temporal_direct_gop_roundtrip_and_skip():
    """encode_frames_bgop(direct="temporal"): full GOP round trip in
    through decode_samples (which threads the
    anchor motion itself), static scenes collapse to temporal B_SKIP,
    and the bitstream genuinely differs from the spatial encode."""
    yy, xx = np.mgrid[0:48, 0:64]
    frames = [np.clip(128 + 90 * np.sin((xx + 4 * f) / 6.0)
                      + 30 * np.cos((yy - f) / 9.0), 0, 255)
              .astype(np.uint8) for f in range(9)]
    chromas = [np.stack([np.clip(128 + 60 * np.sin((xx[::2, ::2] + 3 * f)
                                                   / 7.0), 0, 255),
                         np.full((24, 32), 110)]).astype(np.uint8)
               for f in range(9)]
    avcc, samples, disp = h264.encode_frames_bgop(
        frames, qp=8, gop=8, bframes=2,
        chromas=chromas, direct="temporal")
    # every B slice header carries direct_spatial_mv_pred_flag = 0
    sps, pps = h264._avcc_param_sets(avcc)
    n_b = 0
    for s in samples:
        typ, ref_idc, hdr = h264._peek_slice(s, avcc, sps, pps)
        if hdr["is_b"]:
            n_b += 1
            assert hdr["direct_spatial"] is False
    assert n_b >= 4
    dec = h264.decode_samples(samples, avcc, with_chroma=True)
    for i, (y, c) in enumerate(dec):
        assert np.abs(y.astype(int) - frames[i].astype(int)).max() <= 4
        assert np.abs(c[0].astype(int)
                      - chromas[i][0].astype(int)).max() <= 12
    # static scene: temporal direct predicts perfectly -> tiny B_SKIPs
    img = frames[0]
    avcc, samples, disp = h264.encode_frames_bgop(
        [img] * 5, qp=12, gop=8, bframes=2, direct="temporal")
    b_sizes = [len(s) for s, d in zip(samples, disp) if d in (1, 2)]
    assert b_sizes and all(b < 40 for b in b_sizes), b_sizes
    for d in h264.decode_samples(samples, avcc):
        mse = float(np.mean((d.astype(np.float64) - img) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45
    # moving scene: temporal and spatial encodes are distinct streams
    mov_t = h264.encode_frames_bgop(frames, qp=8, gop=8, bframes=2,
                                    direct="temporal")[1]
    mov_s = h264.encode_frames_bgop(frames, qp=8, gop=8, bframes=2,
                                    direct="spatial")[1]
    assert b"".join(mov_t) != b"".join(mov_s)
    with pytest.raises(ValueError, match="direct"):
        h264.encode_frames_bgop(frames, qp=8, direct="nonsense")


def test_temporal_direct_fuzzed_samples_never_escape_valueerror():
    """Corrupted temporal-direct GOP samples decode or raise ValueError
    (never other exceptions) through decode_samples."""
    import random

    frames = _bgop_frames(6)
    avcc, samples, _ = h264.encode_frames_bgop(
        frames, qp=10, gop=8, bframes=2, direct="temporal")
    random.seed(33)
    for _ in range(60):
        mut = list(samples)
        k = random.randrange(1, len(mut))
        s = bytearray(mut[k])
        for _j in range(random.randint(1, 4)):
            s[random.randrange(8, len(s))] = random.randrange(256)
        mut[k] = bytes(s)
        try:
            h264.decode_samples(mut, avcc)
        except ValueError:
            pass


# --------------------------------------------- r7: multi-reference P
def test_multiref_p_decode_equals_recon():
    """P slices with num_ref_idx_l0_active = 2: per-partition
    ref_idx_l0 (te(v) in CAVLC),
    decode == recon bit-exact, and ref 1 is genuinely chosen."""

    rng = np.random.default_rng(21)
    base = rng.integers(30, 225, (48, 64)).astype(np.uint8)
    f0, f1, f2 = base, np.roll(base, 6, axis=1), np.roll(base, 1, axis=0)
    ch = [rng.integers(0, 256, (2, 24, 32)).astype(np.uint8)
          for _ in range(3)]
    enc_i, enc_p = h264.encode_idr_cavlc, h264.encode_p_cavlc
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True,
                           nrefs=2)
    _, r0 = enc_i(f0, qp=10, full_recon=True, chroma=ch[0])
    _, r1 = enc_p(f1, r0[0], qp=10, frame_num=1, chroma=ch[1],
                  cref=r0[1])
    mo = []
    rb2, r2 = enc_p(f2, [r1[0], r0[0]], qp=10, frame_num=2,
                    chroma=ch[2], cref=[r1[1], r0[1]], motion_out=mo)
    assert (mo[0][1] == 1).any(), "ref 1 never chosen"
    nal = bytes([0x41]) + h264._ep_insert(rb2)
    sample = struct.pack(">I", len(nal)) + nal
    dy, dc = h264.decode_sample(sample, avcc, ref=[r1[0], r0[0]],
                                cref=[r1[1], r0[1]], full_plane=True,
                                with_chroma=True)
    assert np.array_equal(dy, r2[0]) and np.array_equal(dc, r2[1])
    # decoding with fewer references than the header declares raises
    with pytest.raises(ValueError, match="reference"):
        h264.decode_sample(sample, avcc, ref=r1[0], full_plane=True)


def test_multiref_p_partitioned_macroblocks():
    """Multi-ref ref_idx fields ride through partitioned P macroblocks
    (16x8/8x16 and P_8x8 sub-shapes): content
    with a moving seam forces partitions while the flickering
    background forces ref 1."""

    yy, xx = np.mgrid[0:48, 0:64]

    def fr(f):
        a = np.clip(128 + 90 * np.sin((xx + 4 * f) / 5), 0, 255)
        b = np.clip(128 + 90 * np.sin((xx - 4 * f) / 5 + 1), 0, 255)
        return np.where(yy < 24, a, b).astype(np.uint8)

    frames = [fr(0), fr(2), fr(1)]  # frame 2 sits between its refs
    enc_i, enc_p = h264.encode_idr_cavlc, h264.encode_p_cavlc
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True,
                           nrefs=2)
    _, r0 = enc_i(frames[0], qp=12, full_recon=True)
    _, r1 = enc_p(frames[1], r0, qp=12, frame_num=1)
    mo = []
    rb2, r2 = enc_p(frames[2], [r1, r0], qp=12, frame_num=2,
                    motion_out=mo)
    assert (mo[0][1] == 1).any()
    nal = bytes([0x41]) + h264._ep_insert(rb2)
    sample = struct.pack(">I", len(nal)) + nal
    d = h264.decode_sample(sample, avcc, ref=[r1, r0],
                           full_plane=True)
    assert np.array_equal(d, r2)


def test_multiref_gop_end_to_end_flicker():
    """encode_frames(nrefs=2) through decode_samples: flickering A/B/A
    content makes the 2-back reference the perfect match — later P
    slices collapse to skip-dominated slices (< 100 bytes) and the
    whole clip decodes at >= 45 dB; nrefs=1 on
    the same content stays large (the niche is real)."""
    rng = np.random.default_rng(22)
    a = rng.integers(30, 225, (48, 64)).astype(np.uint8)
    b = rng.integers(30, 225, (48, 64)).astype(np.uint8)  # independent:
    fl = [a, b, a, b, a, b]  # 1-back motion search cannot predict it
    sz1 = None
    avcc, samples = h264.encode_frames(fl, qp=8, gop=8,
                                       nrefs=2)
    tail = [len(s) for s in samples[2:]]
    assert all(t < 100 for t in tail), tail
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45
    sz1 = sum(len(s) for s in
              h264.encode_frames(fl, qp=8, gop=8, nrefs=1)[1])
    assert sz1 > 2 * sum(len(s) for s in samples)
    # mp4 end-to-end via the real sample_frames decode path
    data = mp4.write_h264_mp4(fl, fps=2, qp=8, gop=8, nrefs=2)
    parsed = mp4.read_mjpeg_mp4(data)
    decs = h264.decode_samples(list(parsed["frames"]), parsed["avcc"])
    for d, f in zip(decs, fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_multiref_fuzz_never_escapes_valueerror():
    """Corrupted multi-ref P samples decode or raise ValueError."""
    import random

    rng = np.random.default_rng(23)
    a = rng.integers(30, 225, (32, 48)).astype(np.uint8)
    fl = [a, np.roll(a, 5, axis=1), a, np.roll(a, 2, axis=0)]
    avcc, samples = h264.encode_frames(fl, qp=10, gop=8,
                                       nrefs=2)
    random.seed(11)
    for _ in range(40):
        mut = list(samples)
        k = random.randrange(1, len(mut))
        s = bytearray(mut[k])
        for _j in range(random.randint(1, 3)):
            s[random.randrange(8, len(s))] = random.randrange(256)
        mut[k] = bytes(s)
        try:
            h264.decode_samples(mut, avcc)
        except ValueError:
            pass


# ------------------------------------------ r7: weighted prediction (P)
def _fade_frames(n=5, shape=(48, 64), seed=7):
    rng = np.random.default_rng(seed)
    base = rng.integers(40, 200, shape).astype(np.uint8)
    return [np.clip(base.astype(np.float64) * (1 - 0.12 * i) + 6 * i,
                    0, 255).astype(np.uint8) for i in range(n)]


def test_weighted_prediction_fade():
    """encode_frames(wp=True) on a global fade: explicit per-slice
    gain/offset makes the P slices collapse (< 0.6x the unweighted
    stream) while the decode stays >= 45 dB."""
    fl = _fade_frames()
    avcc, samples = h264.encode_frames(fl, qp=8, gop=8,
                                       wp=True)
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45
    sz_wp = sum(len(s) for s in samples)
    sz_no = sum(len(s) for s in
                h264.encode_frames(fl, qp=8, gop=8)[1])
    assert sz_wp < 0.6 * sz_no, (sz_wp, sz_no)


def test_weighted_prediction_decode_equals_recon_with_chroma():
    """Explicit WP slice (luma + per-component chroma weights): decode
    == encoder recon BIT-EXACT, and the estimated
    table is genuinely non-identity."""

    rng = np.random.default_rng(9)
    f0 = rng.integers(40, 200, (48, 64)).astype(np.uint8)
    f1 = np.clip(f0.astype(np.float64) * 0.72 + 12, 0, 255).astype(np.uint8)
    ch0 = rng.integers(30, 220, (2, 24, 32)).astype(np.uint8)
    ch1 = np.clip(ch0.astype(np.float64) * 0.80 + 8, 0, 255).astype(np.uint8)
    enc_i = h264.encode_idr_cavlc
    enc_p = h264.encode_p_cavlc
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True,
                           wp=True)
    _, r0 = enc_i(f0, qp=10, full_recon=True, chroma=ch0)
    tab = h264._estimate_wp(f1, [r0[0]], chroma=ch1, crefs=[r0[1]])
    assert tab["luma"][0] is not None and tab["chroma"][0] is not None
    rb1, r1 = enc_p(f1, r0[0], qp=10, frame_num=1, chroma=ch1,
                    cref=r0[1], wp=tab)
    nal = bytes([0x41]) + h264._ep_insert(rb1)
    sample = struct.pack(">I", len(nal)) + nal
    dy, dc = h264.decode_sample(sample, avcc, ref=r0[0], cref=r0[1],
                                full_plane=True, with_chroma=True)
    assert np.array_equal(dy, r1[0]) and np.array_equal(dc, r1[1])


def test_weighted_prediction_multiref_per_ref_weights():
    """nrefs=2 + wp=True: each reference gets its own weight entry and
    the whole clip still decodes >= 45 dB (table-per-slice, te(v)
    ref_idx + WP compose)."""
    rng = np.random.default_rng(13)
    a = rng.integers(40, 200, (48, 64)).astype(np.uint8)
    fl = [a]
    for i in range(1, 6):
        fl.append(np.clip(a.astype(np.float64) * (1 - 0.1 * i) + 4 * i,
                          0, 255).astype(np.uint8))
    avcc, samples = h264.encode_frames(fl, qp=8, gop=8,
                                       nrefs=2, wp=True)
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_weighted_prediction_identity_table_roundtrip():
    """_estimate_wp on an unchanged scene returns all-None entries; the
    flag-0 table still rides the slice header and decodes bit-exact
    (the PPS advertises weighted_pred for the whole stream)."""
    rng = np.random.default_rng(15)
    f0 = rng.integers(40, 200, (48, 64)).astype(np.uint8)
    fl = [f0, f0.copy(), f0.copy()]
    tab = h264._estimate_wp(f0, [f0.astype(np.uint8)])
    assert tab["luma"] == [None] and tab["chroma"] == [None]
    avcc, samples = h264.encode_frames(fl, qp=8, gop=8, wp=True)
    plain = h264.encode_frames(fl, qp=8, gop=8)[1]
    # identity tables cost ~1 byte per P slice over the unweighted stream
    for s, p in zip(samples[1:], plain[1:]):
        assert len(s) <= len(p) + 4, (len(s), len(p))
    for d in h264.decode_samples(samples, avcc):
        mse = float(np.mean((d.astype(np.float64) - f0) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_weighted_bipred_raises():
    """A PPS advertising weighted_bipred_idc != 0 makes B slice headers
    raise the documented ValueError (single-list P weighting only)."""
    frames = _bgop_frames(4)
    avcc, samples, _ = h264.encode_frames_bgop(frames, qp=10, gop=8,
                                               bframes=2)
    sps, pps = h264._avcc_param_sets(avcc)
    # find the first B slice NAL with the real PPS, then re-parse its
    # header under a PPS that advertises weighted bi-prediction
    for sample in samples:
        ln = int.from_bytes(sample[:4], "big")
        nal = sample[4:4 + ln]
        if (nal[0] & 0x1F) == 1:
            r = h264._BitReader(h264._ep_remove(nal[1:]))
            hdr = h264._parse_slice_header(r, sps, pps, 1, (nal[0] >> 5) & 3)
            if hdr["is_b"]:
                break
    else:
        pytest.fail("no B slice found")
    bad_pps = dict(pps)
    bad_pps["weighted_bipred_idc"] = 1
    r = h264._BitReader(h264._ep_remove(nal[1:]))
    with pytest.raises(ValueError, match="weighted bi-prediction"):
        h264._parse_slice_header(r, sps, bad_pps, 1, (nal[0] >> 5) & 3)


def test_weighted_prediction_mp4_end_to_end():
    """write_h264_mp4(wp=True) through the real MP4 sample decode."""
    fl = _fade_frames(4)
    data = mp4.write_h264_mp4(fl, fps=2, qp=8, gop=8, wp=True)
    parsed = mp4.read_mjpeg_mp4(data)
    for d, f in zip(h264.decode_samples(list(parsed["frames"]),
                                        parsed["avcc"]), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_weighted_prediction_fuzz_never_escapes_valueerror():
    """Corrupted WP samples decode or raise ValueError only."""
    import random

    fl = _fade_frames(4, shape=(32, 48), seed=23)
    avcc, samples = h264.encode_frames(fl, qp=10, gop=8,
                                       wp=True)
    random.seed(17)
    for _ in range(40):
        mut = list(samples)
        k = random.randrange(1, len(mut))
        s = bytearray(mut[k])
        for _j in range(random.randint(1, 3)):
            s[random.randrange(8, len(s))] = random.randrange(256)
        mut[k] = bytes(s)
        try:
            h264.decode_samples(mut, avcc)
        except ValueError:
            pass


# --------------------------------- r7: implicit weighted bi-prediction (B)
def test_implicit_bipred_weights_math():
    """8.4.2.3.1 hand-checked geometries: asymmetric B positions get
    POC-proportional weights, symmetric/degenerate ones the 32/32
    default, and w0 + w1 == 64 always (logWD = 5)."""
    w = h264._implicit_bipred_weights
    # cur=2 in (0, 6): tb=2 td=6 tx=2731 dsf=85 -> w1=21
    assert w(2, 0, 6) == (43, 21)
    assert w(4, 0, 6) == (22, 42)
    assert w(3, 0, 6) == (32, 32)       # exact midpoint
    assert w(2, 0, 0) == (32, 32)       # references share a POC
    assert w(2, 4, 6) == (128, -64)     # cur before both refs: extrapolation
    for cur in range(0, 14, 2):
        w0, w1 = w(cur, 0, 12)
        assert w0 + w1 == 64


def _fade_bgop_frames(n=7, shape=(48, 64), seed=5):
    rng = np.random.default_rng(seed)
    base = rng.integers(40, 200, shape).astype(np.uint8)
    return [np.clip(base.astype(np.float64) * (1 - 0.08 * i) + 5 * i,
                    0, 255).astype(np.uint8) for i in range(n)]


def test_implicit_bipred_fade():
    """bframes=2 on a linear fade: implicit weights interpolate the
    asymmetric B positions correctly, shrinking the stream vs the
    plain average while decoding >= 45 dB."""
    fl = _fade_bgop_frames()
    avcc, samples, _ = h264.encode_frames_bgop(
        fl, qp=8, gop=8, bframes=2, implicit_wb=True)
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45
    sz = sum(len(s) for s in samples)
    sz0 = sum(len(s) for s in h264.encode_frames_bgop(
        fl, qp=8, gop=8, bframes=2)[1])
    assert sz < sz0, (sz, sz0)


def test_implicit_bipred_decode_equals_recon():
    """One weighted B slice, decode == encoder recon BIT-EXACT
    (asymmetric pocs so the weights are genuinely not
    32/32), chroma included."""

    rng = np.random.default_rng(21)
    f0 = rng.integers(40, 200, (48, 64)).astype(np.uint8)
    f3 = np.clip(f0.astype(np.float64) * 0.76 + 18, 0, 255).astype(np.uint8)
    f1 = np.clip(f0.astype(np.float64) * 0.92 + 6, 0, 255).astype(np.uint8)
    ch = {k: rng.integers(30, 220, (2, 24, 32)).astype(np.uint8)
          for k in (0, 1, 3)}
    pocs = (2, 0, 6)
    assert h264._implicit_bipred_weights(*pocs) != (32, 32)
    enc_i = h264.encode_idr_cavlc
    enc_b = h264.encode_b_cavlc
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True, bpoc=True,
                           wbidc=2)
    _, r0 = enc_i(f0, qp=10, full_recon=True, chroma=ch[0], poc_lsb=0)
    _, r3 = enc_i(f3, qp=10, full_recon=True, chroma=ch[3], poc_lsb=6)
    rb, rec = enc_b(f1, r0[0], r3[0], qp=10, frame_num=1, poc_lsb=2,
                    chroma=ch[1], cref0=r0[1], cref1=r3[1],
                    pocs=pocs, implicit_wb=True)
    nal = bytes([0x01]) + h264._ep_insert(rb)  # nal_ref_idc 0, type 1
    sample = struct.pack(">I", len(nal)) + nal
    dy, dc = h264.decode_sample(sample, avcc, ref=r0[0], ref2=r3[0],
                                cref=r0[1], cref2=r3[1],
                                full_plane=True, with_chroma=True,
                                pocs=pocs)
    assert np.array_equal(dy, rec[0]) and np.array_equal(dc, rec[1])


def test_implicit_bipred_composes_with_temporal_direct():
    """direct='temporal' + implicit_wb: POC scaling drives BOTH the
    direct motion and the blend weights; whole clip decodes >= 45 dB."""
    fl = _fade_bgop_frames(7, seed=11)
    avcc, samples, _ = h264.encode_frames_bgop(
        fl, qp=8, gop=8, bframes=2, direct="temporal",
        implicit_wb=True)
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_implicit_bipred_mp4_end_to_end():
    """write_h264_mp4(bframes=2, implicit_wb=True): ctts reordering +
    weighted decode through the real MP4 parse."""
    fl = _fade_bgop_frames(7, seed=29)
    data = mp4.write_h264_mp4(fl, fps=4, qp=8, gop=8, bframes=2,
                              implicit_wb=True)
    parsed = mp4.read_mjpeg_mp4(data)
    for d, f in zip(h264.decode_samples(list(parsed["frames"]),
                                        parsed["avcc"]), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 45


def test_explicit_weighted_bipred_still_raises():
    """weighted_bipred_idc 1 (explicit B tables) and 3 (reserved) stay
    out of profile; 2 parses clean."""
    fl = _fade_bgop_frames(4)
    avcc, samples, _ = h264.encode_frames_bgop(fl, qp=10, gop=8, bframes=2,
                                               implicit_wb=True)
    sps, pps = h264._avcc_param_sets(avcc)
    assert pps["weighted_bipred_idc"] == 2
    for sample in samples:
        nal = sample[4:4 + int.from_bytes(sample[:4], "big")]
        if (nal[0] & 0x1F) == 1:
            r = h264._BitReader(h264._ep_remove(nal[1:]))
            hdr = h264._parse_slice_header(r, sps, pps, 1, (nal[0] >> 5) & 3)
            if hdr["is_b"]:
                break
    else:
        pytest.fail("no B slice found")
    for bad in (1, 3):
        bad_pps = dict(pps)
        bad_pps["weighted_bipred_idc"] = bad
        r = h264._BitReader(h264._ep_remove(nal[1:]))
        with pytest.raises(ValueError, match="weighted bi-prediction"):
            h264._parse_slice_header(r, sps, bad_pps, 1, (nal[0] >> 5) & 3)


def test_implicit_bipred_fuzz_never_escapes_valueerror():
    """Corrupted implicit-WB samples decode or raise ValueError only."""
    import random

    fl = _fade_bgop_frames(5, shape=(32, 48), seed=31)
    avcc, samples, _ = h264.encode_frames_bgop(
        fl, qp=10, gop=8, bframes=2, implicit_wb=True)
    random.seed(19)
    for _ in range(40):
        mut = list(samples)
        k = random.randrange(1, len(mut))
        s = bytearray(mut[k])
        for _j in range(random.randint(1, 3)):
            s[random.randrange(8, len(s))] = random.randrange(256)
        mut[k] = bytes(s)
        try:
            h264.decode_samples(mut, avcc)
        except ValueError:
            pass


# --------------------------------- r7: multi-slice pictures
def _grad_frame(h=64, w=80, seed=17):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 2 + yy * 3) % 256
    return np.clip(base + rng.integers(-20, 20, (h, w)), 0, 255).astype(np.uint8)


def test_multislice_idr_decode_equals_recon():
    """slice_rows=1 and 2: every slice is its own NAL, neighbour
    availability stops at each slice top, and decode == encoder recon
    BIT-EXACT (luma + chroma)."""
    f = _grad_frame()
    rng = np.random.default_rng(23)
    ch = rng.integers(30, 220, (2, 32, 40)).astype(np.uint8)
    enc = h264.encode_idr_cavlc
    avcc = h264.build_avcc(80, 64, deblock_ctrl=True)
    single, rec1 = enc(f, qp=10, full_recon=True, chroma=ch)
    for srows in (1, 2):
        rbsps, rec = enc(f, qp=10, full_recon=True, chroma=ch,
                         slice_rows=srows)
        assert isinstance(rbsps, list)
        assert len(rbsps) == -(-4 // srows)  # 4 MB rows
        sample = b"".join(
            struct.pack(">I", len(n)) + n
            for n in (bytes([0x65]) + h264._ep_insert(rb)
                      for rb in rbsps))
        dy, dc = h264.decode_sample(sample, avcc, full_plane=True,
                                    with_chroma=True)
        assert np.array_equal(dy, rec[0]), srows
        assert np.array_equal(dc, rec[1]), srows
    # slice-top availability actually engages: the slice_rows=1
    # reconstruction differs from the single-slice one (prediction
    # cannot cross the boundary on this gradient content)
    _, rec_ms = enc(f, qp=10, full_recon=True, chroma=ch, slice_rows=1)
    assert not np.array_equal(rec_ms[0], rec1[0])


def test_multislice_p_gop_roundtrip():
    """IDR+P GOP with slice_rows=2 through encode_frames/decode_samples:
    multi-NAL samples, per-slice skip runs, >= 40 dB decode."""
    base = _grad_frame(48, 64, seed=5)
    frames = [np.roll(base, (i * 2, i * 3), (0, 1)) for i in range(5)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=5, slice_rows=2)
    # every sample carries 2 NALs (3 MB rows -> rows 0-1 and 2)
    for s in samples:
        n_nals = 0
        pos = 0
        while pos + 4 <= len(s):
            ln = int.from_bytes(s[pos:pos + 4], "big")
            pos += 4 + ln
            n_nals += 1
        assert n_nals == 2
    dec = h264.decode_samples(samples, avcc)
    for d, f in zip(dec, frames):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_multislice_static_scene_skip_runs():
    """A static P picture in slice_rows=1 mode: every slice restarts its
    own skip run and the picture still decodes bit-exact vs recon."""
    f = _grad_frame(48, 64, seed=9)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True)
    _, ref = h264.encode_idr_cavlc(f, qp=10, full_recon=True)
    # encoding the reference itself: zero residual everywhere -> every
    # slice is a pure skip run
    rbsps, rec = h264.encode_p_cavlc(ref, ref, qp=10, slice_rows=1)
    assert len(rbsps) == 3
    # all-skip slices are tiny (header + one skip-run ue)
    assert all(len(rb) < 12 for rb in rbsps)
    sample = b"".join(struct.pack(">I", len(n)) + n
                      for n in (bytes([0x41]) + h264._ep_insert(rb)
                                for rb in rbsps))
    dy = h264.decode_sample(sample, avcc, ref=ref, full_plane=True)
    assert np.array_equal(dy, rec)


def test_multislice_mp4_end_to_end():
    fl = [_grad_frame(48, 64, seed=i) for i in range(4)]
    data = mp4.write_h264_mp4(fl, fps=4, qp=8, gop=4, slice_rows=1)
    parsed = mp4.read_mjpeg_mp4(data)
    dec = h264.decode_samples(list(parsed["frames"]), parsed["avcc"])
    for d, f in zip(dec, fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_multislice_layout_validation():
    """Slice layouts the decoder cannot honour raise ValueError: a
    non-row-aligned first_mb, out-of-order slices, missing tail."""
    f = _grad_frame(48, 64, seed=3)
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True)
    rbsps, _ = h264.encode_idr_cavlc(f, qp=10, full_recon=True,
                                     slice_rows=1)

    def pack(rbs):
        return b"".join(struct.pack(">I", len(n)) + n
                        for n in (bytes([0x65]) + h264._ep_insert(rb)
                                  for rb in rbs))

    with pytest.raises(ValueError):  # missing bottom slice
        h264.decode_sample(pack(rbsps[:-1]), avcc)
    with pytest.raises(ValueError):  # out of order
        h264.decode_sample(pack([rbsps[1], rbsps[0], rbsps[2]]), avcc)
    with pytest.raises(ValueError):  # does not start at MB 0
        h264.decode_sample(pack(rbsps[1:]), avcc)
    # non-row-aligned first_mb: craft a header with first_mb 1
    bw = h264._BitWriter()
    bw.ue(1)
    bad = bytes(bw.buf) + rbsps[0][1:]
    with pytest.raises(ValueError):
        h264.decode_sample(pack([rbsps[0], bad]), avcc)


def test_multislice_b_gop():
    """IBBP GOPs with slice_rows=2: I, P AND B pictures all emit
    multi-NAL samples; whole clip decodes >= 40 dB (incl. temporal
    direct + implicit weighted bi-prediction)."""
    base = _grad_frame(48, 64, seed=31)
    fl = [np.roll(base, (i, 2 * i), (0, 1)) for i in range(7)]
    avcc, samples, _ = h264.encode_frames_bgop(
        fl, qp=8, gop=8, bframes=2, slice_rows=2,
        direct="temporal", implicit_wb=True)
    for s in samples:
        n_nals = 0
        pos = 0
        while pos + 4 <= len(s):
            ln = int.from_bytes(s[pos:pos + 4], "big")
            pos += 4 + ln
            n_nals += 1
        assert n_nals == 2  # 3 MB rows -> 2 slices
    for d, f in zip(h264.decode_samples(samples, avcc), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


# --------------------------------- r7: High-profile 8x8 transform (CAVLC)
def test_t8x8_table_closure():
    """The numerically-derived MF8/V8 quant tables close the 8x8
    transform round trip to ~qstep accuracy at every qp%6 class, and
    the derived dequant row 0 reproduces the ISO LevelScale8x8 values."""
    assert sorted(set(h264._V8[0].flatten().tolist())) == \
        [18, 19, 20, 24, 25, 32]
    rng = np.random.default_rng(3)
    for qp in (0, 8, 14, 22, 30, 38):
        qstep = 0.625 * 2 ** (qp / 6)
        for _ in range(20):
            x = rng.integers(-255, 256, (8, 8)).astype(np.int64)
            r = h264._inv8(h264._dequant8(h264._quant8(h264._fwd8(x), qp),
                                          qp))
            assert np.abs(r - x).max() <= max(2.0 * qstep, 8), qp


def test_t8x8_p_gop_decode_equals_recon():
    """High-profile (t8x8) IDR+P GOP: per-MB adaptive transform
    selection, decode == encoder recon BIT-EXACT,
    and the avcC carries profile 100 + the PPS transform_8x8_mode_flag."""

    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 3 + yy * 2) % 256
                   + rng.integers(-25, 25, (48, 64)), 0, 255).astype(np.uint8)
    frames = [np.roll(base, (2 * i, 3 * i), (0, 1)) for i in range(4)]
    avcc = h264.build_avcc(64, 48, deblock_ctrl=True, t8x8=True)
    sps, pps = h264._avcc_param_sets(avcc)
    assert sps["profile"] == 100 and pps["t8x8"]
    for qp in (6, 10, 16):
        _, ref = h264.encode_idr_cavlc(frames[0], qp=qp, full_recon=True,
                                       t8x8=True)
        rb, rec = h264.encode_p_cavlc(frames[1], ref, qp=qp, t8x8=True)
        nal = bytes([0x41]) + h264._ep_insert(rb)
        dy = h264.decode_sample(struct.pack(">I", len(nal)) + nal, avcc,
                                ref=ref, full_plane=True)
        assert np.array_equal(dy, rec), qp
    # whole-GOP PSNR through encode_frames/decode_samples, with chroma
    cy, cx = np.mgrid[0:24, 0:32]
    chromas = [np.stack([((cx * 9 + i) % 250).astype(np.uint8),
                         ((cy * 5 + 2 * i) % 250).astype(np.uint8)])
               for i in range(4)]
    avcc2, samples = h264.encode_frames(frames, qp=8, gop=4, t8x8=True,
                                        chromas=chromas)
    for d, f in zip(h264.decode_samples(samples, avcc2), frames):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_t8x8_adaptive_selection_never_hurts():
    """The per-MB coefficient-count gate: a t8x8 stream is never larger
    than the 4x4-only one on smooth content, and stays decodable on
    noisy content."""
    yy, xx = np.mgrid[0:48, 0:64]
    sm = [np.clip(((xx + yy + 3 * i) // 3), 0, 255).astype(np.uint8)
          for i in range(4)]
    a8, s8 = h264.encode_frames(sm, qp=4, gop=4, t8x8=True)
    _, s4 = h264.encode_frames(sm, qp=4, gop=4)
    assert sum(map(len, s8)) <= sum(map(len, s4))
    dec = h264.decode_samples(s8, a8)
    for d, f in zip(dec, sm):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_t8x8_composes_with_multislice_and_multiref():
    rng = np.random.default_rng(15)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 2 + yy) % 256
                   + rng.integers(-15, 15, (48, 64)), 0, 255).astype(np.uint8)
    frames = [np.roll(base, (i, 2 * i), (0, 1)) for i in range(5)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=5, t8x8=True,
                                       slice_rows=1, nrefs=2)
    for d, f in zip(h264.decode_samples(samples, avcc), frames):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_t8x8_boundaries_and_fuzz():
    import random

    yy, xx = np.mgrid[0:48, 0:64]
    frames = [np.clip((xx * 2 + yy + i) % 256, 0, 255).astype(np.uint8)
              for i in range(3)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=3, t8x8=True)
    random.seed(51)
    for _ in range(150):
        mut = [bytearray(s) for s in samples]
        tgt = mut[random.randrange(len(mut))]
        for _k in range(random.randint(1, 6)):
            tgt[random.randrange(4, len(tgt))] = random.randrange(256)
        try:
            h264.decode_samples([bytes(m) for m in mut], avcc)
        except ValueError:
            pass


def test_t8x8_mp4_end_to_end():
    rng = np.random.default_rng(19)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx + 2 * yy) % 256
                   + rng.integers(-10, 10, (48, 64)), 0, 255).astype(np.uint8)
    fl = [np.roll(base, (i, 3 * i), (0, 1)) for i in range(4)]
    data = mp4.write_h264_mp4(fl, fps=4, qp=8, gop=4, t8x8=True)
    parsed = mp4.read_mjpeg_mp4(data)
    for d, f in zip(h264.decode_samples(list(parsed["frames"]),
                                        parsed["avcc"]), fl):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


# --------------------------------- r7: High-profile I_8x8 intra (8.3.2.2)
def test_i8x8_intra_decode_equals_recon_and_fires():
    """I_8x8 intra prediction: the per-MB I_4x4 vs I_8x8 coefficient
    race selects 8x8 on smooth/directional content, all nine 8.3.2.2
    prediction modes get exercised across the sources, and decode ==
    encoder recon BIT-EXACT at several QPs."""
    fired = []
    modes_seen = set()
    o_cavlc, o_pred8 = h264._decode_mb_i8x8, h264._pred8

    def s_cavlc(*a, **k):
        fired.append(1)
        return o_cavlc(*a, **k)

    def s_pred8(plane, px, py, mode, *a):
        modes_seen.add(mode)
        return o_pred8(plane, px, py, mode, *a)

    h264._decode_mb_i8x8 = s_cavlc
    h264._pred8 = s_pred8
    try:
        rng = np.random.default_rng(5)
        yy, xx = np.mgrid[0:48, 0:64]
        srcs = [
            np.clip((xx * 3 + yy * 2) % 256
                    + rng.integers(-6, 6, (48, 64)), 0, 255).astype(np.uint8),
            ((xx * 5) % 256).astype(np.uint8),
            ((yy * 7) % 256).astype(np.uint8),
            np.clip(np.abs(xx - yy) * 4 % 256, 0, 255).astype(np.uint8),
            np.clip((np.minimum(xx, yy) * 6) % 256
                    + rng.integers(-4, 4, (48, 64)), 0, 255).astype(np.uint8),
        ]
        for src in srcs:
            for qp in (6, 10):
                rb, rec = h264.encode_idr_cavlc(
                    src, qp=qp, full_recon=True, t8x8=True)
                av = h264.build_avcc(64, 48, deblock_ctrl=True,
                                     t8x8=True)
                nal = bytes([0x65]) + h264._ep_insert(rb)
                dy = h264.decode_sample(
                    struct.pack(">I", len(nal)) + nal, av,
                    full_plane=True)
                assert np.array_equal(dy, rec), qp
    finally:
        h264._decode_mb_i8x8 = o_cavlc
        h264._pred8 = o_pred8
    assert len(fired) > 10
    assert modes_seen == set(range(9))


def test_i8x8_intra_composes_with_multislice_gop():
    """I_8x8 at slice boundaries: _mb_avail8 must gate above-row access
    per slice. Full GOP with slice_rows=1."""
    rng = np.random.default_rng(23)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 3 + yy * 2) % 256
                   + rng.integers(-8, 8, (48, 64)), 0, 255).astype(np.uint8)
    frames = [np.roll(base, (i, 2 * i), (0, 1)) for i in range(4)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=4, t8x8=True,
                                       slice_rows=1)
    for d, f in zip(h264.decode_samples(samples, avcc), frames):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40


def test_i8x8_gray_fixture_bits_unchanged():
    """The DC-first strict-< mode search keeps flat sources on the DC
    mode everywhere and I_16x16 handles them, so a flat t8x8 stream
    never selects I_8x8 and non-t8x8 streams are byte-identical to the
    pre-I8x8 encoder (the flag simply stays 0)."""
    flat = np.full((32, 32), 77, np.uint8)
    rb_t8, _ = h264.encode_idr_cavlc(flat, qp=10, t8x8=True)
    rb, _ = h264.encode_idr_cavlc(flat, qp=10)
    # flat content: every MB is I_16x16 -> identical bits either way
    assert rb_t8 == rb


def test_t8x8_b_slices_decode_equals_recon():
    """late r7: the 8x8 transform in B slices — eligibility excludes
    direct shapes (SPS direct_8x8_inference_flag 0) but covers
    B_L0/L1/Bi 16x16, partitioned and all-8x8 B_8x8; decode == encoder
    recon BIT-EXACT and the 8x8 residual decode
    path actually fires inside a B slice."""

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 3 + yy * 2) % 256
                   + rng.integers(-15, 15, (48, 64)), 0, 255).astype(np.uint8)
    f0 = base
    f2 = np.roll(base, (4, 6), (0, 1))
    fb = np.clip(np.roll(base, (2, 3), (0, 1)).astype(np.int32)
                 + rng.integers(-3, 4, (48, 64)), 0, 255).astype(np.uint8)
    inv8_hits = []
    orig_inv8 = h264._inv8

    def spy(wd):
        inv8_hits.append(1)
        return orig_inv8(wd)

    enc_i = h264.encode_idr_cavlc
    enc_p = h264.encode_p_cavlc
    enc_b = h264.encode_b_cavlc
    _, r0 = enc_i(f0, qp=8, full_recon=True, t8x8=True)
    _, r2 = enc_p(f2, r0, qp=8, t8x8=True)
    rb, rec = enc_b(fb, r0, r2, qp=8, poc_lsb=2, t8x8=True)
    av = h264.build_avcc(64, 48, deblock_ctrl=True, bpoc=True,
                         t8x8=True)
    nal = bytes([0x01]) + h264._ep_insert(rb)
    sample = struct.pack(">I", len(nal)) + nal
    inv8_hits.clear()
    h264._inv8 = spy
    try:
        dy = h264.decode_sample(sample, av, ref=r0, ref2=r2,
                                full_plane=True)
    finally:
        h264._inv8 = orig_inv8
    assert inv8_hits, "no 8x8 residual decoded in the B slice"
    assert np.array_equal(dy, rec)


def test_t8x8_b_gop_end_to_end():
    """Full IBBP GOP with the High-profile 8x8 transform through
    encode_frames_bgop + MP4 mux + decode_samples, spatial and
    temporal direct."""
    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 3 + yy * 2) % 256
                   + rng.integers(-20, 20, (48, 64)), 0, 255).astype(np.uint8)
    frames = [np.roll(base, (2 * i, 3 * i), (0, 1)) for i in range(6)]
    for direct in ("spatial", "temporal"):
        data = mp4.write_h264_mp4(frames, fps=2, qp=8, gop=6,
                                  bframes=2,
                                  direct=direct, t8x8=True)
        parsed = mp4.read_mjpeg_mp4(data)
        for d, f in zip(h264.decode_samples(list(parsed["frames"]),
                                            parsed["avcc"]), frames):
            mse = float(np.mean((d.astype(np.float64) - f) ** 2))
            assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 40, direct


def test_t8x8_with_inloop_deblocking_decode_equals_recon():
    """late r7: 8.7 deblocking composed with the 8x8 transform — inside
    an 8x8-transformed MB the internal 4x4 edges (offsets 4/12) are not
    filtered and bS-2 'coded' status is per 8x8 block. decode ==
    encoder recon BIT-EXACT at filter-active QPs,
    the filter demonstrably fires, and 8x8 MBs demonstrably exist."""

    rng = np.random.default_rng(29)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.clip((xx * 3 + yy * 2) % 256
                   + rng.integers(-25, 25, (48, 64)), 0, 255).astype(np.uint8)
    frames = [np.roll(base, (2 * i, 3 * i), (0, 1)) for i in range(3)]
    enc_i = h264.encode_idr_cavlc
    enc_p = h264.encode_p_cavlc
    for qp in (20, 28):
        _, ref = enc_i(frames[0], qp=qp, full_recon=True, t8x8=True,
                       deblock=True)
        _, ref_nof = enc_i(frames[0], qp=qp, full_recon=True,
                           t8x8=True)
        assert not np.array_equal(ref, ref_nof), qp  # filter on
        t8_marks = []
        orig_mark = h264._mark_t8

        def spy(mx, my):
            t8_marks.append((mx, my))
            orig_mark(mx, my)

        h264._mark_t8 = spy
        try:
            rb, rec = enc_p(frames[1], ref, qp=qp, t8x8=True,
                            deblock=True)
        finally:
            h264._mark_t8 = orig_mark
        assert t8_marks, qp  # 8x8 MBs present under the filter
        av = h264.build_avcc(64, 48, deblock_ctrl=True, t8x8=True)
        nal = bytes([0x41]) + h264._ep_insert(rb)
        dy = h264.decode_sample(struct.pack(">I", len(nal)) + nal, av,
                                ref=ref, full_plane=True)
        assert np.array_equal(dy, rec), qp
    # whole-GOP end-to-end with the filter
    avcc, samples = h264.encode_frames(frames, qp=20, gop=3, t8x8=True,
                                       deblock=True)
    for d, f in zip(h264.decode_samples(samples, avcc), frames):
        mse = float(np.mean((d.astype(np.float64) - f) ** 2))
        assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) >= 28
