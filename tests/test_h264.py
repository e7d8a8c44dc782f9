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


def _b_flagged(sample: bytes) -> bytes:
    """A one-NAL P sample re-typed as a B slice: its RBSP opens with
    first_mb_in_slice ue(0) = '1' and slice_type ue(5) = '00110', and
    setting bit 5 turns that into ue(6), a B slice."""
    (ln,) = struct.unpack(">I", sample[:4])
    nal = sample[4:4 + ln]
    rbsp = bytearray(h264._ep_remove(nal[1:]))
    assert rbsp[0] >> 2 == 0b100110
    rbsp[0] |= 0x80 >> 5
    nal = nal[:1] + h264._ep_insert(bytes(rbsp))
    return struct.pack(">I", len(nal)) + nal + sample[4 + ln:]


def test_b_slice_raises_valueerror():
    """B slices are out of decode scope: a B slice raises ValueError
    naming them as soon as its slice_type is read, in decode_samples
    and in decode_sample alike."""
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (32, 48), dtype=np.uint8)
              for _ in range(3)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=4)
    bad = [samples[0], _b_flagged(samples[1]), samples[2]]
    with pytest.raises(ValueError, match="B slices are not supported"):
        h264.decode_samples(bad, avcc)
    with pytest.raises(ValueError, match="B slices are not supported"):
        h264.decode_sample(bad[1], avcc, ref=np.zeros((32, 48), np.uint8))


def test_non_reference_p_picture_stays_out_of_the_window():
    """decode_samples keeps only reference pictures (nal_ref_idc != 0)
    in its sliding window: a P picture coded with nal_ref_idc 0 between
    an IDR and a reference P that predicts from the IDR must not become
    that P's reference."""
    rng = np.random.default_rng(3)
    base = rng.integers(30, 225, (32, 48)).astype(np.uint8)
    f0, f1, f2 = base, 255 - base, np.roll(base, 2, axis=1)
    enc_i, enc_p = h264.encode_idr_cavlc, h264.encode_p_cavlc
    rb0, r0 = enc_i(f0, qp=8, full_recon=True)
    rb1, r1 = enc_p(f1, r0, qp=8, frame_num=1)
    rb2, r2 = enc_p(f2, r0, qp=8, frame_num=1)
    # non-reference P: nal_ref_idc 0 (NAL byte 0x01), and its header
    # drops adaptive_ref_pic_marking_mode_flag, which only reference
    # pictures carry (after first_mb, slice_type, pps_id, frame_num,
    # num_ref_idx_active_override and ref_pic_list_modification)
    r = h264._BitReader(rb1)
    r.ue(), r.ue(), r.ue(), r.u(4), r.u(1), r.u(1)
    bits = "".join(f"{b:08b}" for b in rb1)
    assert bits[r.pos] == "0"
    bits = bits[:r.pos] + bits[r.pos + 1:] + "0"
    rb1_nonref = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    samples = [h264._pack_sample(rb0, 0x65),
               h264._pack_sample(rb1_nonref, 0x01),
               h264._pack_sample(rb2, 0x41)]
    avcc = h264.build_avcc(48, 32, deblock_ctrl=True)
    out = h264.decode_samples(samples, avcc)
    assert np.array_equal(out[0], r0[:32, :48])
    assert np.array_equal(out[1], r1[:32, :48])
    assert np.array_equal(out[2], r2[:32, :48])


def _respliced(rbsp: bytes, at: int, drop: int, write) -> bytes:
    """`rbsp` with the `drop` bits at bit `at` replaced by what `write`
    puts into a _BitWriter, then re-terminated (rbsp_trailing_bits)."""
    bits = "".join(f"{b:08b}" for b in rbsp)
    body = bits[:bits.rindex("1")]  # drop rbsp_stop_one_bit + alignment
    w = h264._BitWriter()
    for c in body[:at]:
        w.u(int(c), 1)
    write(w)
    for c in body[at + drop:]:
        w.u(int(c), 1)
    w.rbsp_trailing()
    return bytes(w.buf)


def _poc_type0(avcc: bytes, samples: list) -> tuple[bytes, list]:
    """The stream re-signalled with pic_order_cnt_type 0 and 8-bit
    pic_order_cnt_lsb fields (2 per frame). The SPS swaps ue(2) for
    ue(0) ue(4); each slice header gains u(8) after frame_num (and
    idr_pic_id). 8 inserted bits keep every later byte alignment."""
    (sps_len,) = struct.unpack(">H", avcc[6:8])
    sps = h264._ep_remove(avcc[9:8 + sps_len])  # past the 0x67 NAL byte
    r = h264._BitReader(sps)
    r.u(24), r.ue(), r.ue()  # profile/flags/level, sps_id, log2_max_frame_num
    at = r.pos
    assert r.ue() == 2  # pic_order_cnt_type
    nal = bytes([0x67]) + h264._ep_insert(
        _respliced(sps, at, r.pos - at, lambda w: (w.ue(0), w.ue(4))))
    avcc0 = avcc[:6] + struct.pack(">H", len(nal)) + nal + avcc[8 + sps_len:]
    out = []
    for i, sample in enumerate(samples):
        packed, pos = b"", 0
        while pos < len(sample):
            (ln,) = struct.unpack(">I", sample[pos:pos + 4])
            nal, pos = sample[pos + 4:pos + 4 + ln], pos + 4 + ln
            rbsp = h264._ep_remove(nal[1:])
            r = h264._BitReader(rbsp)
            r.ue(), r.ue(), r.ue(), r.u(4)  # first_mb, type, pps_id, frame_num
            if nal[0] & 0x1F == 5:
                r.ue()  # idr_pic_id
            nal = nal[:1] + h264._ep_insert(
                _respliced(rbsp, r.pos, 0, lambda w: w.u(2 * i, 8)))
            packed += struct.pack(">I", len(nal)) + nal
        out.append(packed)
    return avcc0, out


def test_poc_type0_stream_decodes_like_its_poc_type2_twin():
    """Streams from outside the program may signal picture order with
    pic_order_cnt_type 0: the SPS carries log2_max_pic_order_cnt_lsb and
    every slice header a pic_order_cnt_lsb, which the decoder reads past
    (pictures decode in decode order). The same I/P stream rewritten that
    way decodes to the same frames."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    frames = [np.roll(base, 2 * k, axis=1) for k in range(6)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=4)
    avcc0, samples0 = _poc_type0(avcc, samples)
    sps, _ = h264._avcc_param_sets(avcc0)
    assert (sps["poc_type"], sps["log2_poc"]) == (0, 8)
    want = h264.decode_samples(samples, avcc)
    got = h264.decode_samples(samples0, avcc0)
    assert len(got) == len(want) == 6
    for a, b in zip(want, got):
        np.testing.assert_array_equal(a, b)


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
    clip with its CAVLC avcC yields real frames. So does a CAVLC clip
    whose P picture is a B slice: B slices are out of decode scope."""
    from extractors_geo_spark.operators import multimodal as M

    frames = [np.full((16, 16), 40 * f, np.uint8) for f in range(2)]
    avcc, samples = h264.encode_frames(frames)
    p_avcc, p_samples = h264.encode_frames(frames, qp=8, gop=4)

    def clip(rec, samples=samples):
        return bytearray(mp4._assemble_mp4(
            samples, 16, 16, 1, fourcc=b"avc1", depth=24,
            entry_extra=mp4._box(b"avcC", rec)))

    base = spark.createDataFrame([("cavlc", clip(avcc))],
                                 "video_id string, bytes binary")
    assert M.sample_frames(base, every_ms=1000).count() == 2
    b_clip = clip(p_avcc, [p_samples[0], _b_flagged(p_samples[1])])
    for vid, data in (("cabac", clip(_cabac_flagged(avcc))),
                      ("bslice", b_clip)):
        df = spark.createDataFrame([(vid, data)],
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


# --------------------------------------------- r7: multi-reference P
def _spy_ref_idx(monkeypatch) -> list:
    """Record every ref_idx_l0 the decoder reads from the bitstream."""
    seen = []
    orig = h264._read_ref_idx

    def spy(r, nrefs):
        ridx = orig(r, nrefs)
        seen.append(ridx)
        return ridx

    monkeypatch.setattr(h264, "_read_ref_idx", spy)
    return seen


def test_multiref_p_decode_equals_recon(monkeypatch):
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
    rb2, r2 = enc_p(f2, [r1[0], r0[0]], qp=10, frame_num=2,
                    chroma=ch[2], cref=[r1[1], r0[1]])
    nal = bytes([0x41]) + h264._ep_insert(rb2)
    sample = struct.pack(">I", len(nal)) + nal
    seen = _spy_ref_idx(monkeypatch)
    dy, dc = h264.decode_sample(sample, avcc, ref=[r1[0], r0[0]],
                                cref=[r1[1], r0[1]], full_plane=True,
                                with_chroma=True)
    assert 1 in seen, "ref 1 never chosen"
    assert np.array_equal(dy, r2[0]) and np.array_equal(dc, r2[1])
    # decoding with fewer references than the header declares raises
    with pytest.raises(ValueError, match="reference"):
        h264.decode_sample(sample, avcc, ref=r1[0], full_plane=True)


def test_multiref_p_partitioned_macroblocks(monkeypatch):
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
    rb2, r2 = enc_p(frames[2], [r1, r0], qp=12, frame_num=2)
    nal = bytes([0x41]) + h264._ep_insert(rb2)
    sample = struct.pack(">I", len(nal)) + nal
    seen = _spy_ref_idx(monkeypatch)
    d = h264.decode_sample(sample, avcc, ref=[r1, r0],
                           full_plane=True)
    assert 1 in seen
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
