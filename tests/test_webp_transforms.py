"""Round-trip tests for the VP8L predictor and cross-color transforms
(functions/webp_transforms.py — NOT yet wired into the codec; see its
module docstring for the round-11 wiring plan). The identities here are
exact and modular, so forward -> inverse == the source image for ANY
image, block size, mode sub-image, and delta sub-image — hypothesis
drives all four dimensions."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from akkastreamprocessnpmpackagedependencies_spark.functions import webp_transforms as wt


def _rand_image(rng: random.Random, w: int, h: int) -> list[int]:
    return [rng.randrange(0, 1 << 32) for _ in range(w * h)]


def _mode_image(rng, w, h, size_bits, mode=None):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    return [
        0xFF000000 | ((mode if mode is not None else rng.randrange(14)) << 8)
        for _ in range(bw * bh)
    ]


def _cte_image(rng, w, h, size_bits):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    return [
        0xFF000000
        | (rng.randrange(256) << 16)
        | (rng.randrange(256) << 8)
        | rng.randrange(256)
        for _ in range(bw * bh)
    ]


@given(
    seed=st.integers(0, 10_000),
    w=st.integers(1, 17),
    h=st.integers(1, 11),
    size_bits=st.integers(2, 5),
)
@settings(max_examples=40, deadline=None)
def test_predictor_roundtrip_random_modes(seed, w, h, size_bits):
    rng = random.Random(seed)
    img = _rand_image(rng, w, h)
    modes = _mode_image(rng, w, h, size_bits)
    res = wt.predictor_forward(img, w, h, modes, size_bits)
    assert wt.predictor_inverse(res, w, h, modes, size_bits) == img


def test_predictor_roundtrip_every_mode_constant():
    """Each of the 14 modes as a constant mode image over an image large
    enough that every edge case (corner, top row, left column, rightmost
    column's TR wrap) participates."""
    rng = random.Random(7)
    w, h, size_bits = 13, 9, 2
    img = _rand_image(rng, w, h)
    for mode in range(14):
        modes = _mode_image(rng, w, h, size_bits, mode=mode)
        res = wt.predictor_forward(img, w, h, modes, size_bits)
        assert wt.predictor_inverse(res, w, h, modes, size_bits) == img, mode


def test_predictor_edge_semantics_pinned():
    """The forced edge rules are observable in the residuals themselves:
    (0,0) is the pixel minus opaque black; the rest of the top row
    differences against the left neighbor; the left column against the
    top neighbor — regardless of the block's mode."""
    rng = random.Random(1)
    w, h, size_bits = 5, 4, 2
    img = _rand_image(rng, w, h)
    modes = _mode_image(rng, w, h, size_bits, mode=12)  # any interior mode
    res = wt.predictor_forward(img, w, h, modes, size_bits)
    assert res[0] == wt._sub_px(img[0], 0xFF000000)
    for x in range(1, w):
        assert res[x] == wt._sub_px(img[x], img[x - 1])
    for y in range(1, h):
        assert res[y * w] == wt._sub_px(img[y * w], img[(y - 1) * w])


def test_predictor_tr_wraps_to_current_row_start():
    """Mode 3 (top-right) at the rightmost column must predict from the
    FIRST pixel of the CURRENT row — the spec's contiguous-scan wrap —
    not from any top-row neighbor."""
    rng = random.Random(2)
    w, h, size_bits = 4, 3, 3  # one block: mode applies everywhere interior
    img = _rand_image(rng, w, h)
    modes = _mode_image(rng, w, h, size_bits, mode=3)
    res = wt.predictor_forward(img, w, h, modes, size_bits)
    y = 1
    i = y * w + (w - 1)
    assert res[i] == wt._sub_px(img[i], img[y * w]), (
        "rightmost-column TR must be the current row's first pixel"
    )


@given(
    seed=st.integers(0, 10_000),
    w=st.integers(1, 17),
    h=st.integers(1, 11),
    size_bits=st.integers(2, 5),
)
@settings(max_examples=40, deadline=None)
def test_cross_color_roundtrip_random_deltas(seed, w, h, size_bits):
    rng = random.Random(seed)
    img = _rand_image(rng, w, h)
    ctes = _cte_image(rng, w, h, size_bits)
    fwd = wt.cross_color_forward(img, w, h, ctes, size_bits)
    assert wt.cross_color_inverse(fwd, w, h, ctes, size_bits) == img
    # alpha and green are never touched by the transform
    for p, q in zip(img, fwd):
        assert (p & 0xFF00FF00) == (q & 0xFF00FF00)


def test_cross_color_delta_int8_semantics_pinned():
    """ColorTransformDelta multiplies SIGNED bytes and arithmetic-shifts:
    0x80 (=-128) times 0xFF (=-1) is +128 -> +4 after >>5; 0x7F (=127)
    times 0x80 (=-128) is -16256 -> -508 after the FLOORING shift."""
    assert wt._ct_delta(0x80, 0xFF) == 4
    assert wt._ct_delta(0x7F, 0x80) == -508
    assert wt._ct_delta(0x00, 0x55) == 0
    assert wt._ct_delta(0x20, 0x40) == (32 * 64) >> 5  # +64


@given(seed=st.integers(0, 5_000))
@settings(max_examples=25, deadline=None)
def test_stacked_transforms_roundtrip(seed):
    """Both transforms stacked the way a VP8L stream would apply them
    (cross-color applied to the image, then the predictor over the
    result; inverses in reverse order) reproduce the source exactly."""
    rng = random.Random(seed)
    w, h, size_bits = rng.randint(1, 12), rng.randint(1, 9), rng.randint(2, 4)
    img = _rand_image(rng, w, h)
    ctes = _cte_image(rng, w, h, size_bits)
    modes = _mode_image(rng, w, h, size_bits)
    stage1 = wt.cross_color_forward(img, w, h, ctes, size_bits)
    stage2 = wt.predictor_forward(stage1, w, h, modes, size_bits)
    back1 = wt.predictor_inverse(stage2, w, h, modes, size_bits)
    back2 = wt.cross_color_inverse(back1, w, h, ctes, size_bits)
    assert back2 == img


def test_choose_predictor_modes_beats_fixed_worst_mode():
    """The chooser is deterministic, emits valid green-channel modes, and
    its total absolute residual is no worse than any single fixed mode
    (it optimizes per block over exactly that cost)."""
    rng = random.Random(3)
    w, h, size_bits = 11, 7, 2
    # a smooth gradient, where spatial predictors genuinely help
    img = [
        0xFF000000 | ((x * 16 & 0xFF) << 16) | ((y * 24 & 0xFF) << 8) | ((x + y) & 0xFF)
        for y in range(h)
        for x in range(w)
    ]
    modes = wt.choose_predictor_modes(img, w, h, size_bits)
    assert modes == wt.choose_predictor_modes(img, w, h, size_bits)
    assert all((m >> 8) & 0xFF < 14 for m in modes)

    def cost(mode_img):
        res = wt.predictor_forward(img, w, h, mode_img, size_bits)
        return sum(
            min(c, 256 - c) for p in res for c in wt._chans(p)
        )

    chosen = cost(modes)
    for mode in range(14):
        assert chosen <= cost(_mode_image(rng, w, h, size_bits, mode=mode)), mode
    # round-trip still exact under the chosen modes
    res = wt.predictor_forward(img, w, h, modes, size_bits)
    assert wt.predictor_inverse(res, w, h, modes, size_bits) == img


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 10_000), w=st.integers(1, 24), h=st.integers(1, 20),
       size_bits=st.integers(2, 4))
def test_vectorized_paths_equal_scalar_references(seed, w, h, size_bits):
    """Round 11 vectorized the dependency-free transform paths (both
    choosers, predictor_forward, cross_color forward AND inverse — the
    predictor inverse alone is genuinely sequential). Each vectorized
    function must be BYTE-EQUIVALENT to its retained scalar reference on
    arbitrary images/blocks — two unrelated code shapes would have to
    share a bug to agree while wrong (the codec family's standing
    falsification pattern)."""
    rng = random.Random(seed)
    img = [rng.getrandbits(32) for _ in range(w * h)]
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    assert wt.choose_predictor_modes(img, w, h, size_bits) == (
        wt._choose_predictor_modes_scalar(img, w, h, size_bits)
    )
    assert wt.choose_cross_color_deltas(img, w, h, size_bits) == (
        wt._choose_cross_color_deltas_scalar(img, w, h, size_bits)
    )
    modes = [0xFF000000 | (rng.randrange(14) << 8) for _ in range(bw * bh)]
    assert wt.predictor_forward(img, w, h, modes, size_bits) == (
        wt._predictor_forward_scalar(img, w, h, modes, size_bits)
    )
    ctes = [rng.getrandbits(32) for _ in range(bw * bh)]
    assert wt.cross_color_forward(img, w, h, ctes, size_bits) == (
        wt._cross_color_forward_scalar(img, w, h, ctes, size_bits)
    )
    assert wt.cross_color_inverse(img, w, h, ctes, size_bits) == (
        wt._cross_color_inverse_scalar(img, w, h, ctes, size_bits)
    )


def test_predict_region_rejects_malformed_modes_like_scalar():
    """Round-11 ADVICE: the vectorized _predict_region used to treat any
    mode >= 13 as ClampAddSubtractHalf (fall-through tail) while scalar
    predict() raises — a malformed mode sub-image silently diverged
    from the reference on exactly the inputs the equivalence tests
    never generate. Both paths must now fail loudly and identically."""
    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="out of range"):
        wt.predict(14, 0, 0, 0, 0)
    L = np.zeros((4, 2, 2), dtype=np.int32)
    pick = np.zeros((2, 2), dtype=bool)
    for bad in (14, 15, 255):
        with pytest.raises(ValueError, match="out of range"):
            wt._predict_region(bad, L, L, L, L, pick)
    # a forward pass over a sub-image carrying a malformed mode must
    # surface the error, not encode garbage
    modes = [0xFF000000 | (14 << 8)]
    with pytest.raises(ValueError, match="out of range"):
        wt.predictor_forward([0xFF010203] * 4, 2, 2, modes, 1)


# ------------------------------------------- LZ77 distance plane codes


def test_plane_code_offsets_match_spec_construction():
    """The generated table IS the spec's: 120 entries; the first ten
    match RFC 9649's packed-nibble constants 0x18 0x07 0x17 0x19 0x28
    0x06 0x27 0x29 0x16 0x1a (dy = hi nibble, dx = 8 - lo nibble);
    every entry respects the nibble-packing bounds (dy 0..7, dx -7..8)
    and points at an already-decoded pixel; no duplicates; squared
    distances are non-decreasing."""
    offs = wt.plane_code_offsets()
    assert len(offs) == 120
    assert len(set(offs)) == 120
    packed = [(dy << 4) | (8 - dx) for dx, dy in offs]
    assert packed[:10] == [0x18, 0x07, 0x17, 0x19, 0x28,
                           0x06, 0x27, 0x29, 0x16, 0x1A]
    # spot-check deeper anchors (distance-25 run and the 0x58 entry —
    # code 35 is (0,5), followed by (3,4) (-3,4) (4,3) (-4,3) (5,0))
    assert packed[34:40] == [0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03]
    d2 = [dx * dx + dy * dy for dx, dy in offs]
    assert d2 == sorted(d2)
    for dx, dy in offs:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        assert dy > 0 or dx > 0


@settings(max_examples=60, deadline=None)
@given(
    xsize=st.integers(min_value=1, max_value=4096),
    dist=st.integers(min_value=1, max_value=100_000),
)
def test_plane_code_distance_roundtrip(xsize, dist):
    """Encoder->decoder identity at any width: whatever code the
    encoder picks (2D neighborhood or linear fallback), the decoder's
    projection onto the SAME width recovers the exact distance."""
    code = wt.distance_to_plane_code(xsize, dist)
    assert 1 <= code
    assert wt.plane_code_to_distance(xsize, code) == dist


def test_plane_code_decode_semantics_pinned():
    """Decoder fixed points: code 1 is (0,1) = one row up (dist =
    xsize); code 2 is (1,0) = the previous pixel; codes > 120 are
    linear; a neighborhood offset that lands before the image start
    clamps to 1 (the spec's dist >= 1 rule); code 0 rejects."""
    import pytest

    assert wt.plane_code_to_distance(100, 1) == 100
    assert wt.plane_code_to_distance(7, 1) == 7
    assert wt.plane_code_to_distance(100, 2) == 1
    assert wt.plane_code_to_distance(100, 121) == 1
    assert wt.plane_code_to_distance(100, 120 + 777) == 777
    # code 4 is (-1,1): at xsize=1 the offset is 1*1-1 = 0 -> clamp
    assert wt.plane_code_to_distance(1, 4) == 1
    with pytest.raises(ValueError):
        wt.plane_code_to_distance(100, 0)
    with pytest.raises(ValueError):
        wt.distance_to_plane_code(100, 0)


def test_plane_code_encoder_prefers_neighborhood_and_is_minimal():
    """At width 100, distance 100 is exactly one-row-up -> code 1 (not
    the linear 220); distance 99 is (-1,1) -> code 4; aliases resolve
    to the SMALLEST code (at xsize=5, dist 5 is both (0,1) and (5,0);
    (0,1) is code 1)."""
    assert wt.distance_to_plane_code(100, 100) == 1
    assert wt.distance_to_plane_code(100, 1) == 2
    assert wt.distance_to_plane_code(100, 99) == 4
    assert wt.distance_to_plane_code(5, 5) == 1
    # far distances fall back to linear
    assert wt.distance_to_plane_code(100, 10_000) == 10_120


def test_plane_code_roundtrip_exhaustive_small_widths():
    """Exhaustive companion to the hypothesis property: EVERY distance
    reachable through the 2D neighborhood at EVERY width 1..64 (plus
    a linear-fallback tail) round-trips exactly — ~41k cases, the full
    small-width space rather than a sample. Also pins the decode
    totality invariant: all 120 codes decode to a valid (>=1) distance
    at every width."""
    for xsize in range(1, 65):
        for code in range(1, 121):
            assert wt.plane_code_to_distance(xsize, code) >= 1
        # 8*xsize+8 covers every neighborhood-reachable distance
        # (dy<=7, dx<=8), +32 exercises the linear fallback boundary
        for dist in range(1, 8 * xsize + 8 + 32):
            code = wt.distance_to_plane_code(xsize, dist)
            assert wt.plane_code_to_distance(xsize, code) == dist, (
                xsize, dist, code,
            )
