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


def _map_slices(sample: bytes, fn) -> bytes:
    """The sample with every NAL's RBSP replaced by fn(rbsp, nal_type)."""
    packed, pos = b"", 0
    while pos < len(sample):
        (ln,) = struct.unpack(">I", sample[pos:pos + 4])
        nal, pos = sample[pos + 4:pos + 4 + ln], pos + 4 + ln
        rbsp = fn(h264._ep_remove(nal[1:]), nal[0] & 0x1F)
        nal = nal[:1] + h264._ep_insert(rbsp)
        packed += struct.pack(">I", len(nal)) + nal
    return packed


def _poc_resignalled(avcc: bytes, samples: list, poc_type: int) -> tuple[bytes, list]:
    """The stream re-signalled with pic_order_cnt_type 0 or 1. The SPS
    swaps ue(2) for the type's fields: type 0 an 8-bit
    log2_max_pic_order_cnt_lsb, type 1 delta_pic_order_always_zero_flag
    0 and a one-entry cycle. Each slice header gains, after frame_num
    (and idr_pic_id), an 8-bit pic_order_cnt_lsb (type 0) or an se(v)
    delta_pic_order_cnt[0] (type 1)."""
    (sps_len,) = struct.unpack(">H", avcc[6:8])
    sps = h264._ep_remove(avcc[9:8 + sps_len])  # past the 0x67 NAL byte
    r = h264._BitReader(sps)
    r.u(24), r.ue(), r.ue()  # profile/flags/level, sps_id, log2_max_frame_num
    at = r.pos
    assert r.ue() == 2  # pic_order_cnt_type

    def sps_fields(w):
        w.ue(poc_type)
        if poc_type == 0:
            w.ue(4)  # log2_max_pic_order_cnt_lsb_minus4
        else:
            w.u(0, 1)  # delta_pic_order_always_zero_flag
            w.se(0), w.se(0)  # offset_for_non_ref_pic, _top_to_bottom_field
            w.ue(1), w.se(2)  # num_ref_frames_in_pic_order_cnt_cycle, offset

    nal = bytes([0x67]) + h264._ep_insert(_respliced(sps, at, r.pos - at, sps_fields))
    avcc_t = avcc[:6] + struct.pack(">H", len(nal)) + nal + avcc[8 + sps_len:]
    out = []
    for i, sample in enumerate(samples):
        def field(rbsp, nal_type):
            r = h264._BitReader(rbsp)
            r.ue(), r.ue(), r.ue(), r.u(4)  # first_mb, type, pps_id, frame_num
            if nal_type == 5:
                r.ue()  # idr_pic_id
            return _respliced(rbsp, r.pos, 0, lambda w: (
                w.u(2 * i, 8) if poc_type == 0 else w.se(2 * i - 3)))

        out.append(_map_slices(sample, field))
    return avcc_t, out


def test_poc_type0_stream_decodes_like_its_poc_type2_twin():
    """Streams from outside the program may signal picture order with
    pic_order_cnt_type 0 or 1: the SPS carries the type's fields and
    every slice header a pic_order_cnt_lsb (type 0) or a
    delta_pic_order_cnt[0] (type 1), which the decoder reads past
    (pictures decode in decode order). The same I/P stream rewritten
    either way decodes to the same frames."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    frames = [np.roll(base, 2 * k, axis=1) for k in range(6)]
    avcc, samples = h264.encode_frames(frames, qp=8, gop=4)
    want = h264.decode_samples(samples, avcc)
    for poc_type in (0, 1):
        avcc_t, samples_t = _poc_resignalled(avcc, samples, poc_type)
        sps, _ = h264._avcc_param_sets(avcc_t)
        assert sps["poc_type"] == poc_type
        assert (sps["log2_poc"], sps["delta_always_zero"]) == \
            ((8, True) if poc_type == 0 else (0, False))
        got = h264.decode_samples(samples_t, avcc_t)
        assert len(got) == len(want) == 6
        for a, b in zip(want, got):
            np.testing.assert_array_equal(a, b)


def _pps_respliced(avcc: bytes, skip, drop: int, write) -> bytes:
    """The avcC with its PPS RBSP respliced (see _respliced) at the bit
    where `skip` leaves a _BitReader over it."""
    (sps_len,) = struct.unpack(">H", avcc[6:8])
    at = 8 + sps_len  # numOfPictureParameterSets
    (pps_len,) = struct.unpack(">H", avcc[at + 1:at + 3])
    pps = h264._ep_remove(avcc[at + 4:at + 3 + pps_len])  # past the 0x68 byte
    r = h264._BitReader(pps)
    skip(r)
    nal = bytes([0x68]) + h264._ep_insert(_respliced(pps, r.pos, drop, write))
    return (avcc[:at + 1] + struct.pack(">H", len(nal)) + nal
            + avcc[at + 3 + pps_len:])


def _to_nref_default(r):
    r.ue(), r.ue(), r.u(1), r.u(1), r.ue()  # ids, entropy, poc, slice groups


def _to_weighted_pred(r):
    _to_nref_default(r)
    r.ue(), r.ue()  # num_ref_idx_l0/l1_default_active_minus1


def _to_pps_end(r):
    _to_weighted_pred(r)
    r.u(1), r.u(2), r.se(), r.se(), r.se(), r.u(1), r.u(1), r.u(1)


def _pgop():
    rng = np.random.default_rng(13)
    base = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    frames = [np.roll(base, 2 * k, axis=1) for k in range(3)]
    return h264.encode_frames(frames, qp=8, gop=4)


def test_pps_default_of_two_references_raises():
    """A PPS whose num_ref_idx_l0_default_active is 2 gives every P slice
    that does not override it two active references, which the decoder
    does not keep: the P slice raises instead of decoding without its
    ref_idx_l0 fields. The I picture alone still decodes."""
    avcc, samples = _pgop()
    avcc2 = _pps_respliced(avcc, _to_nref_default, 1, lambda w: w.ue(1))
    assert h264._avcc_param_sets(avcc2)[1]["nref_default"] == 2
    np.testing.assert_array_equal(h264.decode_samples(samples[:1], avcc2)[0],
                                  h264.decode_samples(samples[:1], avcc)[0])
    with pytest.raises(ValueError, match="num_ref_idx_l0_active 2"):
        h264.decode_samples(samples, avcc2)


def test_slice_override_of_two_references_raises():
    """num_ref_idx_active_override_flag 1 with num_ref_idx_l0_active_minus1
    1 in a P slice header raises ValueError."""
    avcc, samples = _pgop()

    def override(rbsp, _nal_type):
        r = h264._BitReader(rbsp)
        r.ue(), r.ue(), r.ue(), r.u(4)  # first_mb, type, pps_id, frame_num
        return _respliced(rbsp, r.pos, 1, lambda w: (w.u(1, 1), w.ue(1)))

    bad = [samples[0], _map_slices(samples[1], override), samples[2]]
    with pytest.raises(ValueError, match="num_ref_idx_l0_active 2"):
        h264.decode_samples(bad, avcc)


def test_weighted_pred_flag_raises():
    """A PPS with weighted_pred_flag 1 (explicit weighted prediction)
    raises ValueError."""
    avcc, samples = _pgop()
    avcc_wp = _pps_respliced(avcc, _to_weighted_pred, 1, lambda w: w.u(1, 1))
    with pytest.raises(ValueError, match="weighted prediction"):
        h264.decode_samples(samples, avcc_wp)


def test_transform_8x8_flag_raises():
    """A PPS extension with transform_8x8_mode_flag 1 raises ValueError;
    the same extension with the flag 0 parses, and the stream decodes to
    the same frames."""
    avcc, samples = _pgop()

    def ext(flag):
        # transform_8x8_mode_flag, pic_scaling_matrix_present_flag,
        # second_chroma_qp_index_offset
        return _pps_respliced(avcc, _to_pps_end, 0,
                              lambda w: (w.u(flag, 1), w.u(0, 1), w.se(0)))

    want = h264.decode_samples(samples, avcc)
    for a, b in zip(want, h264.decode_samples(samples, ext(0))):
        np.testing.assert_array_equal(a, b)
    with pytest.raises(ValueError, match="8x8 transform"):
        h264.decode_samples(samples, ext(1))


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


def test_sps_declares_the_one_reference_p_slices_use():
    """Every P slice predicts from one reference, so the SPS must say
    max_num_ref_frames 1 (a strict decoder sizes its DPB from it). The
    decoder keeps one reference whatever the field says: the decoded
    frames equal those of the stream that wrote 0 (digest pinned)."""
    import hashlib

    f = (np.add.outer(np.arange(32) * 3, np.arange(48) * 5) % 256).astype(np.uint8)
    avcc, samples = h264.encode_frames([f] * 2, qp=8, gop=2)
    sps, _pps = h264._avcc_param_sets(avcc)
    assert sps["max_num_ref_frames"] == 1
    dec = h264.decode_samples(samples, avcc)
    digest = hashlib.sha256(b"".join(d.tobytes() for d in dec)).hexdigest()
    assert digest == "adb817957407e84b38a44a7c5f4fca99ba728a9c5babd974ea486c82dec02eef"


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
