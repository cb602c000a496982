"""Baseline JPEG encode → decode round-trip (round 12 — verdict item 3).

The fixture's exactness claim is narrow and provable: a DC-only block
decodes to its constant level bit-exactly. The decoder itself is a full
baseline implementation; the AC path (runs, ZRL, EOB, dense IDCT) is
driven with arbitrary coefficient blocks against an independently
computed IDCT reference."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from caseguarddatapipeline_spark.operators.jpegops import (
    JpegParseError,
    decode_jpeg,
    encode_blocks,
    encode_flat_blocks,
)

_SETTINGS = dict(
    deadline=None,
    max_examples=30,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    nby=st.integers(1, 6),
    nbx=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**_SETTINGS)
def test_flat_blocks_decode_exactly(nby, nbx, seed):
    levels = np.random.RandomState(seed).randint(0, 256, (nby, nbx))
    w, h, nc, img = decode_jpeg(encode_flat_blocks(levels.astype(np.uint8)))
    assert (w, h, nc) == (nbx * 8, nby * 8, 1)
    assert np.array_equal(img, np.repeat(np.repeat(levels, 8, 0), 8, 1))


@given(
    nby=st.integers(1, 3),
    nbx=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**_SETTINGS)
def test_ac_coefficients_match_idct_reference(nby, nbx, seed):
    """Arbitrary quantized coefficients: decoder output equals the
    textbook 2-D IDCT (computed here with the direct matrix form,
    independent of the decoder's einsum) within rounding."""
    coeffs = np.random.RandomState(seed).randint(
        -400, 400, (nby, nbx, 64)
    ).astype(np.int32)
    w, h, nc, img = decode_jpeg(encode_blocks(coeffs, nbx * 8, nby * 8))
    basis = np.array(
        [
            [
                (np.sqrt(0.125) if k == 0 else 0.5)
                * np.cos((2 * x + 1) * k * np.pi / 16)
                for x in range(8)
            ]
            for k in range(8)
        ]
    )
    ref = np.zeros((nby * 8, nbx * 8))
    for by in range(nby):
        for bx in range(nbx):
            blk = coeffs[by, bx].reshape(8, 8).astype(float)
            ref[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                basis.T @ blk @ basis + 128
            )
    ref = np.clip(np.round(ref), 0, 255)
    assert np.abs(img.astype(float) - ref).max() <= 1


def test_zrl_eob_and_stuffing_paths():
    # long zero run forces ZRL codes; trailing zeros force EOB; high
    # DC levels produce 0xFF entropy bytes exercising byte stuffing
    coeffs = np.zeros((2, 3, 64), dtype=np.int32)
    coeffs[0, 0, 0] = 1016  # level 255: large category DC
    coeffs[0, 0, 63] = -5
    coeffs[1, 2, 33] = 7
    coeffs[0, 1, 0] = -1024  # level 0
    b = encode_blocks(coeffs, 24, 16)
    w, h, nc, img = decode_jpeg(b)
    assert img[0, 0] == 255 and img[0, 8] == 0
    assert (w, h) == (24, 16)


@given(
    nby=st.integers(1, 4),
    nbx=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
    restart=st.sampled_from([0, 1, 2, 5]),
)
@settings(**_SETTINGS)
def test_restart_markers_roundtrip(nby, nbx, seed, restart):
    """DRI/RSTn path: byte-aligned restarts with DC predictor resets
    must decode identically to the marker-free stream."""
    levels = np.random.RandomState(seed).randint(0, 256, (nby, nbx))
    coeffs = np.zeros((nby, nbx, 64), dtype=np.int32)
    coeffs[:, :, 0] = levels * 8 - 1024
    b = encode_blocks(coeffs, nbx * 8, nby * 8, restart_interval=restart)
    if restart:
        assert b"\xff\xdd" in b  # DRI present
    w, h, nc, img = decode_jpeg(b)
    assert np.array_equal(img, np.repeat(np.repeat(levels, 8, 0), 8, 1))


@given(
    nby=st.integers(1, 3),
    nbx=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
# Y=233, Cb=3 puts blue at exactly 11.5: IDCT float error in the Cb plane
# used to round it down when the reference rounds it to 12
@example(nby=2, nbx=3, seed=16816)
@settings(**_SETTINGS)
def test_color_ycbcr_decode(nby, nbx, seed):
    """3-component 1x1 YCbCr: flat DC-only planes decode through the
    color matrix to the exact per-block RGB the JFIF equations give."""
    rng = np.random.RandomState(seed)
    planes = rng.randint(0, 256, (3, nby, nbx))
    coeffs = np.zeros((3, nby, nbx, 64), dtype=np.int32)
    coeffs[:, :, :, 0] = planes * 8 - 1024
    w, h, nc, img = decode_jpeg(encode_blocks(coeffs, nbx * 8, nby * 8))
    assert (nc, img.shape) == (3, (nby * 8, nbx * 8, 3))
    y, cb, cr = (planes[i].astype(float) for i in range(3))
    ref = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    ref = np.clip(np.round(ref), 0, 255)
    expect = np.repeat(np.repeat(ref, 8, 0), 8, 1)
    assert np.array_equal(img.astype(float), expect)


def test_decoder_rejects_non_baseline():
    flat = encode_flat_blocks(np.full((1, 1), 100, dtype=np.uint8))
    progressive = flat.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(JpegParseError):
        decode_jpeg(progressive)
    with pytest.raises((JpegParseError, ValueError)):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # no scan
    with pytest.raises((JpegParseError, ValueError)):
        decode_jpeg(b"not a jpeg")


def test_fixture_jpg_payload_matches_block_formula():
    from caseguarddatapipeline_spark.operators import multimodal as M

    doc_id = 64
    assert M._format_ext(doc_id) == "jpg"
    payload = M._format_payload(doc_id, "unused for jpg")
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    fmt, w, h, arr = M._decode_raster(payload)
    assert fmt == "jpg" and (w, h) == M._raster_dims(doc_id)
    nbx = w // 8
    gray = arr.reshape(h, w, 3)
    for by, bx in [(0, 0), (1, 2), (h // 8 - 1, w // 8 - 1)]:
        v = (doc_id * 3 + by * nbx + bx) % 256
        block = gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
        assert (block == v).all()
