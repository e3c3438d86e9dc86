"""Property tests for the lib-free media codecs: lossless formats must
roundtrip EXACTLY for arbitrary images/clips; JPEG must stay within its
quantization budget. No Spark session needed — pure kernel properties."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from pyhydroqc_spark.textops import gif, jpeg, multimodal as mm

dims = st.tuples(
    st.integers(min_value=1, max_value=40),  # h
    st.integers(min_value=1, max_value=40),  # w
    st.integers(min_value=0, max_value=2**32 - 1),  # seed
)


def _img(h, w, seed):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(dims)
def test_png_roundtrip_any_shape(hw):
    h, w, seed = hw
    img = _img(h, w, seed)
    np.testing.assert_array_equal(mm.decode_png(mm.encode_png(img)), img)


@settings(max_examples=40, deadline=None)
@given(dims)
def test_bmp_ppm_roundtrip_any_shape(hw):
    h, w, seed = hw
    img = _img(h, w, seed)
    np.testing.assert_array_equal(mm.decode_bmp(mm.encode_bmp(img)), img)
    np.testing.assert_array_equal(mm.decode_ppm(mm.encode_ppm(img)), img)


@settings(max_examples=30, deadline=None)
@given(dims, st.integers(min_value=2, max_value=256))
def test_gif_roundtrip_any_palette_size(hw, n_colors):
    h, w, seed = hw
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    img = pal[rng.integers(0, n_colors, (h, w))]
    np.testing.assert_array_equal(gif.decode_gif(gif.encode_gif(img)), img)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_avi_roundtrip_any_clip(n, h, w, seed):
    frames = np.random.default_rng(seed).integers(0, 256, (n, h, w, 3), dtype=np.uint8)
    dec, fps = mm.decode_avi(mm.encode_avi(frames, fps=12))
    np.testing.assert_array_equal(dec, frames)
    assert abs(fps - 12.0) < 0.01  # us-per-frame is integer-rounded


@settings(max_examples=15, deadline=None)
@given(dims, st.sampled_from(["444", "420"]))
# one 8×8 block cut to 2×2 visible pixels: 27.53 dB when the encoder
# rounded the whole padded block instead of fitting the visible pixels
@example((2, 2, 0), "444")
def test_jpeg_roundtrip_within_budget(hw, sub):
    h, w, seed = hw
    img = _img(h, w, seed)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsampling=sub))
    assert got.shape == img.shape
    if sub == "444":
        mse = float(np.mean((got.astype(float) - img.astype(float)) ** 2))
        # flat q=8 on random noise: comfortably above 28 dB
        assert mse == 0 or 10 * np.log10(255**2 / mse) > 28
    else:
        # 4:2:0 additionally averages chroma 2x2; luma carries the check
        lum = lambda a: a.astype(float) @ np.array([0.299, 0.587, 0.114])
        assert np.abs(lum(got) - lum(img)).mean() < 8
