"""Baseline JPEG codec (pure numpy + stdlib, textops/jpeg.py): roundtrip
within quantization error across sampling/restart variants, exactness on
constant blocks, spec-path rejections, and the Spark decode-kernel hookup."""

import numpy as np
import pytest

from pyhydroqc_spark.textops import jpeg, multimodal


@pytest.fixture(scope="module")
def smooth_img():
    yy, xx = np.meshgrid(np.arange(40), np.arange(56), indexing="ij")
    return np.stack(
        [
            (128 + 80 * np.sin(yy / 9)).astype(np.uint8),
            (128 + 80 * np.cos(xx / 11)).astype(np.uint8),
            (128 + 60 * np.sin((yy + xx) / 13)).astype(np.uint8),
        ],
        axis=-1,
    )


def test_constant_image_roundtrips_exactly():
    img = np.full((24, 24, 3), 137, dtype=np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    np.testing.assert_array_equal(got, img)


def test_smooth_roundtrip_within_quantization(smooth_img):
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img))
    err = np.abs(got.astype(int) - smooth_img.astype(int))
    assert err.max() <= 12 and err.mean() < 3


def test_noise_roundtrip_psnr():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    mse = float(np.mean((got.astype(float) - img.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / mse) > 30  # dB


def test_420_subsampling_roundtrip(smooth_img):
    """4:2:0 exercises the decoder's MCU interleave + chroma upsampling;
    luma must stay tight (chroma pays the 2x2 averaging)."""
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img, subsampling="420"))
    lum = lambda a: a.astype(float) @ np.array([0.299, 0.587, 0.114])
    assert np.abs(lum(got) - lum(smooth_img)).max() < 6
    assert np.abs(got.astype(int) - smooth_img.astype(int)).max() < 20


def test_restart_markers_reset_predictors(smooth_img):
    """DRI/RSTn path: identical reconstruction with restart intervals on
    (the interval split + DC-predictor reset must be lossless plumbing)."""
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img))
    rst = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img, restart_every=3))
    np.testing.assert_array_equal(plain, rst)
    r420 = jpeg.decode_jpeg(
        jpeg.encode_jpeg(smooth_img, subsampling="420", restart_every=2)
    )
    assert np.abs(r420.astype(int) - smooth_img.astype(int)).max() < 20


def test_odd_dimensions_pad_and_crop():
    rng = np.random.default_rng(8)
    img = (rng.integers(0, 8, (13, 19, 3)) * 16 + 64).astype(np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    assert got.shape == img.shape


def test_unsupported_process_and_garbage_rejected(smooth_img):
    payload = bytearray(jpeg.encode_jpeg(smooth_img))
    sof = payload.find(b"\xff\xc0")
    payload[sof + 1] = 0xC9  # rewrite SOF0 -> SOF9 (arithmetic coding)
    with pytest.raises(ValueError, match="unsupported JPEG process"):
        jpeg.decode_jpeg(bytes(payload))
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg.decode_jpeg(b"\x89PNG1234")


def test_progressive_matches_baseline_exactly(smooth_img):
    """SOF2 six-scan stream (DC first/refine, AC band first scans with EOB
    runs, AC refinement with correction bits) reconstructs the SAME pixels
    as the baseline encoding of the same image: both paths carry identical
    quantized coefficients, so the entropy plumbing must be lossless."""
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img, progressive=True))
    np.testing.assert_array_equal(prog, base)


def test_progressive_420_and_restarts(smooth_img):
    """Progressive with subsampled chroma (non-interleaved AC scans cover
    the component's own block grid) and with restart markers (predictor +
    EOB-run reset inside every scan kind) — still coefficient-exact vs the
    matching baseline stream."""
    for kwargs in (
        {"subsampling": "420"},
        {"restart_every": 3},
        {"subsampling": "420", "restart_every": 2},
    ):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth_img, **kwargs))
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg(smooth_img, progressive=True, **kwargs)
        )
        np.testing.assert_array_equal(prog, base)


def test_progressive_sparse_high_frequency():
    """Sparse spiky content forces long zero runs: ZRL chains inside AC
    first scans, ZRL + buffered correction bits inside refinement scans,
    and cross-block EOB runs. Noise exercises dense coefficient mixes."""
    rng = np.random.default_rng(17)
    img = np.full((48, 64, 3), 128, dtype=np.uint8)
    ys, xs = rng.integers(0, 48, 40), rng.integers(0, 64, 40)
    img[ys, xs] = rng.integers(0, 256, (40, 3))
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, qscale=2))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg(img, qscale=2, progressive=True))
    np.testing.assert_array_equal(prog, base)

    noise = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    nb = jpeg.decode_jpeg(jpeg.encode_jpeg(noise))
    npg = jpeg.decode_jpeg(jpeg.encode_jpeg(noise, progressive=True))
    np.testing.assert_array_equal(npg, nb)


def test_progressive_grayscale_and_odd_dims(smooth_img):
    g = (smooth_img.astype(float) @ np.array([0.299, 0.587, 0.114])).astype(np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(g))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg(g, progressive=True))
    np.testing.assert_array_equal(prog, base)
    rng = np.random.default_rng(9)
    odd = (rng.integers(0, 8, (13, 19, 3)) * 16 + 64).astype(np.uint8)
    np.testing.assert_array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg(odd, progressive=True)),
        jpeg.decode_jpeg(jpeg.encode_jpeg(odd)),
    )


def test_jpeg_through_spark_kernel(spark, smooth_img):
    """JPEG payloads flow through the real mapInPandas decode kernel; the
    features match the lossless containers of the same pixels to within
    the codec's quantization error."""
    import pandas as pd

    rows = [
        ("jpg", jpeg.encode_jpeg(smooth_img), "image"),
        ("jpg420", jpeg.encode_jpeg(smooth_img, subsampling="420"), "image"),
        ("png", multimodal.encode_png(smooth_img), "image"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "media", "kind"])
    )
    feats = (
        multimodal.extract_features(df)
        .toPandas()
        .set_index("media_id")["features"]
    )
    assert all(len(v) == multimodal.FEATURE_DIM for v in feats)
    np.testing.assert_allclose(feats["jpg"], feats["png"], atol=12 / 255)
    np.testing.assert_allclose(feats["jpg420"], feats["png"], atol=20 / 255)


def test_grayscale_single_component(smooth_img):
    """1-component JPEG (gray) decodes via the replicated-channel path."""
    g = (smooth_img.astype(float) @ np.array([0.299, 0.587, 0.114])).astype(np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(g))
    assert got.shape == (*g.shape, 3)
    assert (got[..., 0] == got[..., 1]).all() and (got[..., 1] == got[..., 2]).all()
    assert np.abs(got[..., 0].astype(int) - g.astype(int)).max() <= 12
