"""Canonical-Huffman entropy coder (round 14): exact roundtrips over
degenerate and adversarial distributions, the JPEG Annex-K length
limit, ratio behavior vs zlib, the malformed-block guard contract,
and the codec integrations (IFV entropy mode identity, MDCT entropy
mode identity + the equal-bitrate psychoacoustic NMR pin)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from bigdatabowl2024_25_spark.operators.huffman import (
    huff_decode,
    huff_decode_bytes,
    huff_encode,
    huff_encode_bytes,
)


def test_roundtrip_distributions():
    rng = np.random.default_rng(0)
    cases = [
        rng.geometric(0.3, 20_000) - 1,          # skewed small alphabet
        np.zeros(500, dtype=np.int64),           # single symbol
        np.array([7]),                           # single occurrence
        np.empty(0, dtype=np.int64),             # empty message
        rng.integers(0, 65_536, 5_000),          # near-full u16 alphabet
        np.array([0, 65_535] * 100),             # alphabet extremes
        np.clip(rng.geometric(0.01, 30_000) - 1, 0, 65_535),
    ]
    for i, syms in enumerate(cases):
        blk = huff_encode(syms)
        assert (huff_decode(blk, len(syms)) == syms).all(), i
        # determinism: canonical codes + stable tie-breaks
        assert blk == huff_encode(syms), i


def test_length_limit_fibonacci():
    """Fibonacci frequencies force optimal depths past 16 bits; the
    Annex-K adjustment must cap them and the roundtrip stay exact."""
    fib = [1, 1]
    while len(fib) < 26:
        fib.append(fib[-1] + fib[-2])
    syms = np.repeat(np.arange(26), fib)
    blk = huff_encode(syms)
    assert (huff_decode(blk, len(syms)) == syms).all()
    # the serialized per-length counts must not exceed 16 lengths
    counts = struct.unpack_from("<H16H", blk)[1:]
    assert sum(counts) == 26


def test_ratio_vs_zlib_on_iid_streams():
    """On iid data LZ matching buys zlib nothing, so a static
    symbol-level Huffman code should WIN on a skewed u16 alphabet
    (zlib sees bytes, splitting each symbol's statistics) and stay
    within noise of zlib on skewed bytes."""
    rng = np.random.default_rng(1)
    syms = np.clip(rng.geometric(0.05, 40_000) - 1, 0, 65_535)
    blk = huff_encode(syms)
    z = zlib.compress(syms.astype("<u2").tobytes(), 6)
    assert len(blk) < len(z)
    raw = rng.integers(0, 40, 100_000).astype(np.uint8).tobytes()
    assert len(huff_encode_bytes(raw)) < int(1.05 * len(
        zlib.compress(raw, 6)
    ))


def test_bad_inputs_and_corrupt_blocks():
    with pytest.raises(ValueError, match="u16"):
        huff_encode(np.array([-1]))
    with pytest.raises(ValueError, match="u16"):
        huff_encode(np.array([70_000]))
    good = huff_encode(np.array([1, 2, 3, 1, 1, 2]))
    with pytest.raises(ValueError, match="truncated"):
        huff_decode(good[:10], 6)
    with pytest.raises(ValueError, match="truncated"):
        huff_decode(good[:-3], 6)
    # wrong message length: both directions must raise
    with pytest.raises(ValueError):
        huff_decode(good, 5)
    with pytest.raises(ValueError):
        huff_decode(good, 7)
    # a stream that ends exactly on a byte (2-bit codes, 16 bits) and
    # runs out of symbols, and a symbol count no allocation could hold
    aligned = huff_encode(np.array([0, 1, 2, 3] * 2))
    with pytest.raises(ValueError, match="corrupt"):
        huff_decode(aligned, 9)
    with pytest.raises(ValueError, match="more symbols"):
        huff_decode(aligned, 2**40)
    # corrupt distinct-count
    bad = bytearray(good)
    bad[0] ^= 0xFF
    with pytest.raises(ValueError):
        huff_decode(bytes(bad), 6)
    # Kraft-invalid table: forge counts claiming three 1-bit codes
    forged = bytearray(good)
    struct.pack_into("<H", forged, 2, 3)
    struct.pack_into("<H", forged, 0, 3)
    with pytest.raises(ValueError, match="Kraft|count|truncated"):
        huff_decode(bytes(forged), 6)
    # nonzero padding bits after the declared stream end
    padded = bytearray(good)
    if padded[-1] == 0:  # ensure a flip is visible
        padded[-1] = 0x01
        with pytest.raises(ValueError):
            huff_decode(bytes(padded), 6)
    # empty-table/non-empty-message mismatch
    empty = huff_encode(np.empty(0, dtype=np.int64))
    with pytest.raises(ValueError, match="empty"):
        huff_decode(empty, 3)
    # byte wrapper: a table naming symbols past the byte alphabet
    wide = huff_encode(np.array([300, 300, 5]))
    with pytest.raises(ValueError, match="byte alphabet"):
        huff_decode_bytes(wide, 3)


def test_ifv_entropy_modes_decode_identically():
    """entropy='huffman' changes only the byte stream: quantization
    is untouched, so decoded pixels are bit-identical to zlib mode in
    both spatial and transform modes, the sampler agrees, and
    encoding stays deterministic."""
    from bigdatabowl2024_25_spark.operators.media_av import (
        decode_avi_ifv,
        encode_avi_ifv,
        sample_ifv_frames,
    )

    rng = np.random.default_rng(2)
    frames = [
        rng.integers(0, 256, (22, 31, 3)).astype(np.uint8)
        for _ in range(7)
    ]
    for transform in (False, True):
        pz = encode_avi_ifv(frames, fps=5, q=6, gop=3,
                            transform=transform)
        ph = encode_avi_ifv(frames, fps=5, q=6, gop=3,
                            transform=transform, entropy="huffman")
        oz, _ = decode_avi_ifv(pz)
        oh, fps = decode_avi_ifv(ph)
        assert fps == 5
        assert all((a == b).all() for a, b in zip(oz, oh))
        assert ph == encode_avi_ifv(
            frames, fps=5, q=6, gop=3, transform=transform,
            entropy="huffman",
        )
        got = sample_ifv_frames(ph, 2)
        assert all((g == w).all() for g, w in zip(got, oh[::2]))
    with pytest.raises(ValueError, match="entropy"):
        encode_avi_ifv(frames, entropy="lzma")
    # forged frame entropy byte (mode 9) must raise, not misdecode
    i_pos = ph.index(b"00dc") + 8
    bad = bytearray(ph)
    assert bad[i_pos:i_pos + 1] == b"I"
    bad[i_pos + 1] = 9
    with pytest.raises(ValueError, match="entropy mode"):
        decode_avi_ifv(bytes(bad))


def _mix(n=16_000, rate=16_000, seed=0):
    rng = np.random.default_rng(seed)
    t = np.arange(n) / rate
    s = (
        0.5 * np.sin(2 * np.pi * 440 * t)
        + 0.25 * np.sin(2 * np.pi * 1330 * t + 0.3)
        + 0.05 * rng.standard_normal(n)
    )
    return (s * 20_000).astype(np.int16)


def test_mdct_entropy_modes_decode_identically():
    from bigdatabowl2024_25_spark.operators.media_av import (
        decode_wav_mdct,
        encode_wav_mdct,
        mdct_info,
    )

    x = _mix()
    for alloc in ("uniform", "psy"):
        pz = encode_wav_mdct(x, 16_000, qbits=6, alloc=alloc)
        ph = encode_wav_mdct(x, 16_000, qbits=6, alloc=alloc,
                             entropy="huffman")
        yz, _ = decode_wav_mdct(pz)
        yh, _ = decode_wav_mdct(ph)
        assert (yz == yh).all()
        info = mdct_info(ph)
        assert info["entropy"] == "huffman" and info["alloc"] == alloc
        assert info["n_frames"] == mdct_info(pz)["n_frames"]
        assert ph == encode_wav_mdct(
            x, 16_000, qbits=6, alloc=alloc, entropy="huffman"
        )
    # legacy header untouched by the defaults
    assert mdct_info(encode_wav_mdct(x, 16_000))["n_bands"] == 1
    with pytest.raises(ValueError, match="entropy"):
        encode_wav_mdct(x, 16_000, entropy="lzma")
    with pytest.raises(ValueError, match="alloc"):
        encode_wav_mdct(x, 16_000, alloc="greedy")


def test_mdct_mode_matrix_edges_and_silence():
    from bigdatabowl2024_25_spark.operators.media_av import (
        decode_wav_mdct,
        encode_wav_mdct,
    )

    modes = [
        dict(entropy="huffman"),
        dict(alloc="psy"),
        dict(entropy="huffman", alloc="psy"),
    ]
    for frame in (16, 64):
        half = frame // 2
        for n in (half - 1, half, half + 1, 4 * half + 3):
            x = _mix(n=n)
            for kw in modes:
                y, r = decode_wav_mdct(
                    encode_wav_mdct(x, 16_000, frame=frame, qbits=5,
                                    **kw)
                )
                assert len(y) == n and r == 16_000, (frame, n, kw)
    z = np.zeros(500, dtype=np.int16)
    for kw in modes:
        y, _ = decode_wav_mdct(encode_wav_mdct(z, 16_000, **kw))
        assert (y == 0).all(), kw


def _band_nmr_db(x, y, frame=512, n_bands=16):
    """Per-band noise-to-mask ratio of a decode, using the SAME
    spreading model as `_psy_allocate` — the quantity a
    psychoacoustic allocator minimizes (max over bands = the most
    audible band)."""
    from bigdatabowl2024_25_spark.operators.media_av import (
        _mdct_band_edges,
        _mdct_basis,
    )

    half = frame // 2
    w, basis = _mdct_basis(frame)

    def mdct(sig):
        npad = (-len(sig)) % half
        xp = np.concatenate(
            [np.zeros(half), sig.astype(float), np.zeros(npad + half)]
        )
        fr = np.lib.stride_tricks.sliding_window_view(xp, frame)[::half]
        return (fr * w) @ basis

    X, Y = mdct(x), mdct(y[: len(x)])
    edges = _mdct_band_edges(half, n_bands)
    bi = np.repeat(np.arange(n_bands), np.diff(edges))
    wd = np.diff(edges).astype(float)
    E = np.zeros((X.shape[0], n_bands))
    np.add.at(E, (slice(None), bi), X * X)
    E = E / wd + 1e-12
    N = np.zeros((X.shape[0], n_bands))
    np.add.at(N, (slice(None), bi), (X - Y) ** 2)
    N = N / wd + 1e-300
    d = np.abs(np.arange(n_bands)[:, None] - np.arange(n_bands)[None, :])
    T = E @ (10.0 ** (-(1.0 + 0.8 * d))).T
    return 10 * np.log10(N / T)


def test_psy_allocation_beats_uniform_at_equal_bitrate():
    """The psychoacoustic pin. Plain SNR is the WRONG metric here:
    the uniform mode's single global step + entropy coding is already
    MSE-near-optimal (reverse water-filling yields equal per-band
    noise, and zero-heavy mantissas entropy-code for free), so no
    allocator can beat it on SNR at equal bytes. What masking-driven
    allocation buys is noise SHAPING: the worst band's
    noise-to-mask ratio — the band a listener hears first — drops.
    Pinned two ways on the tonal+noise fixture:

    1. equal allocated budget (same qbits knob): psy cuts max-NMR by
       a wide margin;
    2. equal compressed bytes (psy qbits=6 vs the uniform setting of
       comparable size, qbits=12): psy still wins max-NMR with its
       payload within 15% of uniform's.

    Measured (round 14, seed 0): (1) −14.6 vs ≈+15 dB; (2) −14.6 vs
    −10.5 dB at 16.2 vs 15.2 KB. Asserted with generous margins."""
    from bigdatabowl2024_25_spark.operators.media_av import (
        decode_wav_mdct,
        encode_wav_mdct,
    )

    x = _mix()

    def enc(**kw):
        p = encode_wav_mdct(x, 16_000, entropy="huffman", **kw)
        y, _ = decode_wav_mdct(p)
        return len(p), float(_band_nmr_db(x, y).max())

    sz_uni6, nmr_uni6 = enc(qbits=6)
    sz_psy6, nmr_psy6 = enc(qbits=6, alloc="psy")
    sz_uni12, nmr_uni12 = enc(qbits=12)
    # (1) same qbits: the masked bands stop leaking audible noise
    assert nmr_psy6 < nmr_uni6 - 10.0
    # (2) comparable compressed size: psy still shapes noise better
    assert sz_psy6 < int(1.15 * sz_uni12)
    assert nmr_psy6 < nmr_uni12 - 2.0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=65_535), max_size=400)
)
def test_huffman_roundtrip_hypothesis(vals):
    syms = np.array(vals, dtype=np.int64)
    blk = huff_encode(syms)
    assert (huff_decode(blk, len(syms)) == syms).all()


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=600))
def test_huffman_bytes_roundtrip_hypothesis(raw):
    from bigdatabowl2024_25_spark.operators.huffman import (
        huff_decode_bytes,
        huff_encode_bytes,
    )

    assert huff_decode_bytes(huff_encode_bytes(raw), len(raw)) == raw
