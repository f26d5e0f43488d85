"""Property-based round-trip for the pure-Python WAV codec (hypothesis).

The seeded sweeps in tests/test_wav.py cover the planned branches; this
property walks the input space adversarially (with shrinking) over the
invariant that must hold for EVERY input: WAV survives every sample
format within its quantization tolerance.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from amp.multimodal import wav_decode, wav_encode

_seed = st.integers(min_value=0, max_value=2**32 - 1)


@settings(max_examples=40, deadline=None)
@given(
    seed=_seed,
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
