"""Pure-Python FLAC codec: losslessness, frame/subframe breadth, and the
audio_features integration (VERDICT r02 #6)."""

import numpy as np
import pytest

from extractors_geo_spark import flac


def _sine_pcm(secs=2, rate=8000, freq=220, amp=0.5, seed=4):
    rng = np.random.default_rng(seed)
    t = np.arange(int(rate * secs)) / rate
    sig = amp * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(t.size)
    return np.clip(sig * 32767, -32768, 32767).astype(np.int32)


def test_mono_roundtrip_lossless():
    pcm = _sine_pcm()
    out, rate, bps = flac.decode_pcm(flac.encode(pcm, 8000))
    assert rate == 8000 and bps == 16
    np.testing.assert_array_equal(out[:, 0], pcm)


def test_stereo_roundtrip_lossless():
    pcm = _sine_pcm()
    st = np.stack([pcm, np.roll(pcm, 7)], axis=1)
    out, _, _ = flac.decode_pcm(flac.encode(st, 8000))
    np.testing.assert_array_equal(out, st)


def test_multi_frame_and_partial_last_block():
    pcm = _sine_pcm(secs=1.3)  # 10400 samples: 2 full 4096 blocks + partial
    out, _, _ = flac.decode_pcm(flac.encode(pcm, 8000))
    np.testing.assert_array_equal(out[:, 0], pcm)


def test_constant_and_silence():
    pcm = np.zeros(5000, np.int32)
    out, _, _ = flac.decode_pcm(flac.encode(pcm, 8000))
    np.testing.assert_array_equal(out[:, 0], pcm)
    pcm2 = np.full(100, -1234, np.int32)
    out2, _, _ = flac.decode_pcm(flac.encode(pcm2, 8000))
    np.testing.assert_array_equal(out2[:, 0], pcm2)


def test_float_decode_contract_matches_wav_scaling():
    pcm = _sine_pcm()
    f, rate = flac.decode(flac.encode(pcm, 8000))
    assert rate == 8000
    np.testing.assert_allclose(f, pcm / 32768.0, atol=1e-12)


def test_rejects_garbage():
    with pytest.raises(ValueError):
        flac.decode(b"not a flac stream at all")


def test_audio_features_decodes_flac_for_real(spark):
    """The FLAC and WAV paths produce IDENTICAL features for the same PCM
    (both are lossless 16-bit decodes of the same signal)."""
    import struct as _s

    from extractors_geo_spark.operators import multimodal as M

    pcm = _sine_pcm(secs=2)
    rate = 8000
    wav = (b"RIFF" + _s.pack("<I", 36 + pcm.size * 2) + b"WAVE"
           + b"fmt " + _s.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
           + b"data" + _s.pack("<I", pcm.size * 2) + pcm.astype("<i2").tobytes())
    fl = flac.encode(pcm, rate)
    df = spark.createDataFrame(
        [("wav", bytearray(wav)), ("flac", bytearray(fl))],
        "audio_id string, bytes binary",
    )
    rows = {r["audio_id"]: r for r in M.audio_features(df).collect()}
    assert rows["flac"]["duration_s"] == rows["wav"]["duration_s"] == 2.0
    assert rows["flac"]["n_windows"] == rows["wav"]["n_windows"]
    np.testing.assert_allclose(rows["flac"]["features"], rows["wav"]["features"], rtol=1e-6)
