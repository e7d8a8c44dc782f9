"""Baseline JPEG codec: round-trip PSNR (north-rule lossy threshold),
sampling modes, restart markers, error paths, distributed decode."""

import numpy as np
import pytest

from extractors_geo_spark import jpeg


def psnr(a, b):
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)


def _smooth(h, w):
    return (np.outer(np.linspace(0, 255, h), np.ones(w)) * 0.5
            + np.outer(np.ones(h), np.linspace(0, 255, w)) * 0.5).astype(np.uint8)


def test_gray_roundtrip_psnr_above_40():
    g = _smooth(48, 64)
    for q in (85, 95):
        dec = jpeg.decode(jpeg.encode(g, quality=q))
        assert dec.shape == g.shape and psnr(g, dec) > 40


def test_rgb_444_roundtrip():
    g = _smooth(40, 56)
    rgb = np.stack([g, g[::-1], np.full_like(g, 128)], axis=-1)
    dec = jpeg.decode(jpeg.encode(rgb, quality=95))
    assert dec.shape == rgb.shape and psnr(rgb, dec) > 40


def test_noise_q95_above_40():
    rng = np.random.default_rng(2)
    nz = rng.integers(0, 256, (24, 40), dtype=np.int64).astype(np.uint8)
    assert psnr(nz, jpeg.decode(jpeg.encode(nz, quality=95))) > 40


def test_420_and_restart_markers():
    g = _smooth(21, 35)
    rgb = np.stack([g, g[::-1], np.full_like(g, 100)], axis=-1)
    dec = jpeg.decode(jpeg.encode(rgb, quality=95, subsampling="420", restart_interval=2))
    assert dec.shape == rgb.shape
    # 4:2:0 halves chroma resolution; luma must still round-trip tightly
    y = lambda a: 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    assert psnr(y(rgb), y(dec)) > 40


def test_odd_dims_and_errors():
    rng = np.random.default_rng(3)
    odd = (rng.random((13, 21)) * 255).astype(np.uint8)
    assert jpeg.decode(jpeg.encode(odd, 90)).shape == (13, 21)
    with pytest.raises(ValueError):
        jpeg.decode(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError):
        jpeg.decode(jpeg.encode(odd, 90)[:40])  # truncated before scan


# ------------------------------------------------------- progressive (SOF2)


def test_progressive_marker_and_identity():
    """encode_progressive emits SOF2 and decodes bit-identically to the
    baseline encode of the same image (identical quantized coefficients,
    identical IDCT path)."""
    g = _smooth(40, 56)
    pb = jpeg.encode_progressive(g, quality=90)
    assert b"\xff\xc2" in pb and b"\xff\xc0" not in pb
    assert pb.count(b"\xff\xda") == 6  # gray scan script
    assert np.array_equal(jpeg.decode(pb), jpeg.decode(jpeg.encode(g, quality=90)))


def test_progressive_color_420_identity_and_psnr():
    rng = np.random.default_rng(3)
    yy, xx = np.mgrid[0:50, 0:70]
    base = 128 + 80 * np.sin(xx / 7) * np.cos(yy / 9)
    rgb = np.clip(np.stack([base, base * 0.8 + 30, 255 - base], axis=-1)
                  + rng.normal(0, 4, (50, 70, 3)), 0, 255).astype(np.uint8)
    pb = jpeg.encode_progressive(rgb, quality=90, subsampling="420")
    assert pb.count(b"\xff\xda") == 10  # standard color scan script
    dec = jpeg.decode(pb)
    assert np.array_equal(dec, jpeg.decode(jpeg.encode(rgb, quality=90, subsampling="420")))
    def y(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    assert psnr(y(rgb), y(dec)) > 40


def test_progressive_smooth_psnr_above_40():
    g = _smooth(48, 64)
    assert psnr(g, jpeg.decode(jpeg.encode_progressive(g, quality=90))) > 40


def test_progressive_noise_q95_above_40():
    rng = np.random.default_rng(9)
    nz = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    assert psnr(nz, jpeg.decode(jpeg.encode_progressive(nz, quality=95))) > 40


def test_progressive_odd_dims_all_subsamplings():
    rng = np.random.default_rng(21)
    for shape, sub in [((17, 23), "420"), ((9, 130), "444"), ((33, 31), "444")]:
        img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
        got = jpeg.decode(jpeg.encode_progressive(img, quality=85, subsampling=sub))
        want = jpeg.decode(jpeg.encode(img, quality=85, subsampling=sub))
        assert np.array_equal(got, want), (shape, sub)
