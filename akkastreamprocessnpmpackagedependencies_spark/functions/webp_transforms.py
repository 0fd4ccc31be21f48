"""VP8L spatial transforms: PREDICTOR and CROSS-COLOR, forward and
inverse (public spec: RFC 9649 / the WebP lossless bitstream spec §4;
reference pixel semantics cross-checked against the spec's pseudocode).

Wired into ``functions/webp.py`` in round 11 (decoder accepts transform
types 0/1 via these inverses; the encoder emits them as additional
bitstream shapes for the cross-path identity oracle), after landing in
round 10 behind its own round-trip test suite
(``tests/test_webp_transforms.py``): forward(image) -> inverse ==
identity for arbitrary images, block sizes, and mode/delta sub-images,
which is the falsifiability pattern the codec family already uses (a
bug must exist identically in two unrelated code shapes to hide).

Pixel model matches ``webp.py``: a row-major list of uint32 ARGB ints.
Transform sub-images (per-block predictor modes / color-transform
elements) are row-major lists over the ceil(w/2^bits) x ceil(h/2^bits)
block grid, encoded exactly as the bitstream carries them (mode in the
GREEN channel; cross-color deltas in blue/green/red).

No reference analogue (the reference is text-only); this extends the
multimodal north-star requirement.
"""

from __future__ import annotations

# ------------------------------------------------------------ helpers

_BLACK = 0xFF000000


def _chans(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _avg2(x: int, y: int) -> int:
    """Per-channel (x + y) >> 1 — the spec's Average2."""
    a1, r1, g1, b1 = _chans(x)
    a2, r2, g2, b2 = _chans(y)
    return _pack((a1 + a2) >> 1, (r1 + r2) >> 1, (g1 + g2) >> 1, (b1 + b2) >> 1)


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(t: int, l: int, tl: int) -> int:  # noqa: E741 - spec names
    """The spec's Select: the prediction is L + T - TL per channel; return
    whichever of T / L is Manhattan-closer to it, T on ties (the spec's
    ``pa_minus_pb <= 0`` branch with a = T)."""
    dist_t = 0
    dist_l = 0
    for (ct, cl, ctl) in zip(_chans(t), _chans(l), _chans(tl)):
        p = cl + ct - ctl
        dist_t += abs(p - ct)
        dist_l += abs(p - cl)
    return t if dist_t <= dist_l else l


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:  # noqa: E741
    """Per channel Clamp(L + T - TL)."""
    out = []
    for (cl, ct, ctl) in zip(_chans(l), _chans(t), _chans(tl)):
        out.append(_clamp(cl + ct - ctl))
    return _pack(*out)


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:  # noqa: E741
    """Per channel Clamp(ave + (ave - TL) / 2) with ave = (L + T) >> 1 and
    C-style truncation-toward-zero division of the possibly-negative
    difference (the spec's AddSubtractComponentHalf)."""
    ave = _avg2(l, t)
    out = []
    for (ca, ctl) in zip(_chans(ave), _chans(tl)):
        d = ca - ctl
        half = d // 2 if d >= 0 else -((-d) // 2)
        out.append(_clamp(ca + half))
    return _pack(*out)


def predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:  # noqa: E741
    """The 14 VP8L predictors over the (left, top, top-left, top-right)
    neighborhood. Edge handling (which neighbor values to feed, and the
    forced modes on the first row/column) is the caller's job — see
    ``_neighbors``."""
    if mode == 0:
        return _BLACK
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"VP8L predictor mode {mode} out of range 0..13")


def _neighbors(out: list[int], x: int, y: int, w: int) -> tuple[int, int, int, int]:
    """(L, T, TL, TR) of pixel (x, y) over the ALREADY-RECONSTRUCTED
    buffer ``out``. Spec edge rule: the top-right neighbor of the
    rightmost column is the FIRST pixel of the CURRENT row (the
    bitstream is one contiguous scan, so 'up and to the right' wraps to
    the pixel decoded w-1 positions ago), already reconstructed at that
    point in the scan."""
    row = y * w
    l = out[row + x - 1]  # noqa: E741
    t = out[row - w + x]
    tl = out[row - w + x - 1]
    tr = out[row + 0] if x == w - 1 else out[row - w + x + 1]
    return l, t, tl, tr


def _sub_px(actual: int, pred: int) -> int:
    a1, r1, g1, b1 = _chans(actual)
    a2, r2, g2, b2 = _chans(pred)
    return _pack((a1 - a2) & 0xFF, (r1 - r2) & 0xFF, (g1 - g2) & 0xFF, (b1 - b2) & 0xFF)


def _add_px(residual: int, pred: int) -> int:
    a1, r1, g1, b1 = _chans(residual)
    a2, r2, g2, b2 = _chans(pred)
    return _pack((a1 + a2) & 0xFF, (r1 + r2) & 0xFF, (g1 + g2) & 0xFF, (b1 + b2) & 0xFF)


def _block_index(x: int, y: int, w: int, size_bits: int) -> int:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    return (y >> size_bits) * bw + (x >> size_bits)


# ------------------------------------------------------- predictor

def predictor_inverse(
    pixels: list[int], w: int, h: int, modes: list[int], size_bits: int
) -> list[int]:
    """Reconstruct an image from predictor residuals: per pixel, add
    (mod 256 per channel) the predictor of its block's mode — carried in
    the GREEN channel of the mode sub-image, as the bitstream stores it —
    over the already-reconstructed neighborhood."""
    out: list[int] = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if y == 0 and x == 0:
                pred = _BLACK
            elif y == 0:
                pred = out[i - 1]
            elif x == 0:
                pred = out[i - w]
            else:
                mode = (modes[_block_index(x, y, w, size_bits)] >> 8) & 0xFF
                pred = predict(mode, *_neighbors(out, x, y, w))
            out[i] = _add_px(pixels[i], pred)
    return out


def _channels_stacked(px):
    """Unpack an (h, w) uint32 ARGB image into one (4, h, w) int32 array
    (a, r, g, b along axis 0). One stacked array instead of four keeps
    the vectorized transforms' numpy call count — the dominant cost at
    the oracle query's tiny image sizes — channel-independent."""
    import numpy as np

    return np.stack(
        [((px >> s) & np.uint32(0xFF)).astype(np.int32) for s in (24, 16, 8, 0)]
    )


def _shifted_views(CH):
    """(A, L, T, TL, TR) shifted views over the free region (y>=1, x>=1)
    of a stacked (4, h, w) channel array — the neighborhood every
    vectorized forward-direction function predicts from (over ACTUAL
    pixels there is no sequential dependency, unlike the decoder's
    inverse). TR of the rightmost column wraps to the current row's
    first pixel, the spec's scan-order rule."""
    import numpy as np

    A = CH[:, 1:, 1:]
    L = CH[:, 1:, :-1]
    T = CH[:, :-1, 1:]
    TL = CH[:, :-1, :-1]
    TR = np.empty_like(A)
    TR[:, :, :-1] = CH[:, :-1, 2:]
    TR[:, :, -1] = CH[:, 1:, 0]  # rightmost column: TR wraps to row start
    return A, L, T, TL, TR


def _predict_region(mode, L, T, TL, TR, pick_t):
    """The 14 predictors as array expressions over the stacked shifted
    views (``pick_t`` is the channel-coupled Select decision, computed
    once, broadcast over the channel axis). Mirrors ``predict`` formula
    for formula; every predictor is channel-uniform except mode 0's
    per-channel BLACK constant."""
    import numpy as np

    def avg2(x, y):
        return (x + y) >> 1

    if mode == 0:
        black = np.array([255, 0, 0, 0], dtype=L.dtype).reshape(4, 1, 1)
        return np.broadcast_to(black, L.shape)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return avg2(avg2(L, TR), T)
    if mode == 6:
        return avg2(L, TL)
    if mode == 7:
        return avg2(L, T)
    if mode == 8:
        return avg2(TL, T)
    if mode == 9:
        return avg2(T, TR)
    if mode == 10:
        return avg2(avg2(L, TL), avg2(T, TR))
    if mode == 11:
        return np.where(pick_t, T, L)
    if mode == 12:
        return np.clip(L + T - TL, 0, 255)
    if mode > 13:
        # match the scalar predict(): a malformed mode sub-image must
        # fail loudly, not silently predict as ClampAddSubtractHalf
        # (round-11 ADVICE — the fall-through tail diverged from the
        # scalar reference on exactly the inputs the equivalence tests
        # never generate). Unreachable from webp.py's own calls: the
        # choosers emit 0..13 and the decode side uses scalar predict,
        # which already raises.
        raise ValueError(f"VP8L predictor mode {mode} out of range 0..13")
    ave = avg2(L, T)
    d = ave - TL
    half = np.where(d >= 0, d >> 1, -((-d) >> 1))
    return np.clip(ave + half, 0, 255)


def _select_pick_t(L, T, TL):
    """Select's per-pixel T-vs-L decision, summed over all 4 channels
    (ties to T, the spec's ``pa_minus_pb <= 0`` branch). Returns shape
    (h-1, w-1), broadcasting over the channel axis at use sites."""
    import numpy as np

    p_minus = L - TL  # p - T == L - TL per channel
    q_minus = T - TL  # p - L == T - TL per channel
    return np.abs(p_minus).sum(axis=0) <= np.abs(q_minus).sum(axis=0)


def predictor_forward(
    pixels: list[int], w: int, h: int, modes: list[int], size_bits: int
) -> list[int]:
    """The encoder side: per-pixel residual = actual - predicted (mod 256
    per channel), predicting over the ACTUAL pixels (which is exactly
    what the decoder will have reconstructed when it reaches each
    pixel). ``modes`` is any mode sub-image — the round-trip identity
    holds for every choice, which is what the tests exploit.

    VECTORIZED (round 11): prediction over actual pixels has no
    sequential dependency, so the free region computes one masked array
    expression per DISTINCT mode in the grid; the forced first
    row/column are two shifted-slice subtractions. Byte-equivalent to
    ``_predictor_forward_scalar`` (randomized equivalence test)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint32).reshape(h, w)
    CH = _channels_stacked(px)
    pred = np.zeros((4, h, w), dtype=np.int32)
    # forced edges: (0,0) predicts BLACK, first row predicts left,
    # first column predicts top
    pred[0, 0, 0] = 255
    pred[:, 0, 1:] = CH[:, 0, :-1]
    pred[:, 1:, 0] = CH[:, :-1, 0]
    if h > 1 and w > 1:
        bs = 1 << size_bits
        bw = (w + bs - 1) >> size_bits
        grid = (np.asarray(modes, dtype=np.uint32).reshape(-1, bw) >> 8) & 0xFF
        modemap = np.repeat(np.repeat(grid, bs, axis=0), bs, axis=1)[:h, :w]
        region = modemap[1:, 1:]
        A, L, T, TL, TR = _shifted_views(CH)
        pick_t = _select_pick_t(L, T, TL)
        out_region = pred[:, 1:, 1:]
        for m in np.unique(region):
            mask = region == m
            out_region[:, mask] = _predict_region(
                int(m), L, T, TL, TR, pick_t
            )[:, mask]
    res = ((CH - pred) & 0xFF).astype(np.uint32)
    packed = (res[0] << 24) | (res[1] << 16) | (res[2] << 8) | res[3]
    return [int(v) for v in packed.reshape(-1)]


def _predictor_forward_scalar(
    pixels: list[int], w: int, h: int, modes: list[int], size_bits: int
) -> list[int]:
    """The original per-pixel reference, kept as the equivalence oracle
    for the vectorized ``predictor_forward``."""
    out: list[int] = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if y == 0 and x == 0:
                pred = _BLACK
            elif y == 0:
                pred = pixels[i - 1]
            elif x == 0:
                pred = pixels[i - w]
            else:
                mode = (modes[_block_index(x, y, w, size_bits)] >> 8) & 0xFF
                pred = predict(mode, *_neighbors(pixels, x, y, w))
            out[i] = _sub_px(pixels[i], pred)
    return out


def choose_predictor_modes(
    pixels: list[int], w: int, h: int, size_bits: int
) -> list[int]:
    """A simple encoder-side mode chooser: per block, the mode minimizing
    the summed modular-min residual (ties to the lower mode —
    deterministic). Returns a mode sub-image with the winning mode in
    the green channel, alpha 0xff, matching the bitstream encoding.

    VECTORIZED (round 11): the chooser predicts over the ACTUAL pixels,
    so unlike the decoder's inverse there is no sequential dependency —
    all 14 predicted images come from shifted array views, costs are
    per-pixel numpy ops, and per-block sums reduce with ``reduceat``.
    Forced first-row/column cells contribute the same cost to every
    mode, so they are excluded without changing any argmin (ties
    included). Byte-equivalent to the scalar reference
    ``_choose_predictor_modes_scalar``, pinned by a randomized test;
    measured ~12x on the oracle query's image sizes (the scalar chooser
    was 8.7 ms/doc — the whole encode was 1.7 ms without it)."""
    import numpy as np

    bs = 1 << size_bits
    bw = (w + bs - 1) >> size_bits
    bh = (h + bs - 1) >> size_bits
    px = np.asarray(pixels, dtype=np.uint32).reshape(h, w)
    if h == 1 or w == 1:
        return [0xFF000000] * (bw * bh)

    CH = _channels_stacked(px)
    A, L, T, TL, TR = _shifted_views(CH)
    pick_t = _select_pick_t(L, T, TL)
    costs = np.zeros((14, bh, bw), dtype=np.int64)
    row_ix = np.arange(0, h, bs)
    col_ix = np.arange(0, w, bs)
    total = np.zeros((h, w), dtype=np.int64)
    for mode in range(14):
        p = _predict_region(mode, L, T, TL, TR, pick_t)
        d = (A - p) & 0xFF
        total[1:, 1:] = np.minimum(d, 256 - d).sum(axis=0)
        costs[mode] = np.add.reduceat(
            np.add.reduceat(total, row_ix, axis=0), col_ix, axis=1
        )
    modes = np.argmin(costs, axis=0)  # first minimum == lowest mode
    return [int(0xFF000000 | (m << 8)) for m in modes.reshape(-1)]


def _choose_predictor_modes_scalar(
    pixels: list[int], w: int, h: int, size_bits: int
) -> list[int]:
    """The original per-pixel reference chooser, kept as the equivalence
    oracle for the vectorized ``choose_predictor_modes`` (the test pins
    byte-identical mode grids on random images — the two code shapes
    would have to share a bug to agree while wrong)."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    best = [0xFF000000] * (bw * bh)
    for by in range(bh):
        for bx in range(bw):
            best_mode, best_cost = 0, None
            for mode in range(14):
                cost = 0
                for y in range(by << size_bits, min((by + 1) << size_bits, h)):
                    for x in range(bx << size_bits, min((bx + 1) << size_bits, w)):
                        if y == 0 and x == 0:
                            pred = _BLACK
                        elif y == 0:
                            pred = pixels[y * w + x - 1]
                        elif x == 0:
                            pred = pixels[(y - 1) * w + x]
                        else:
                            pred = predict(mode, *_neighbors(pixels, x, y, w))
                        for ca, cp in zip(
                            _chans(pixels[y * w + x]), _chans(pred)
                        ):
                            d = (ca - cp) & 0xFF
                            cost += min(d, 256 - d)
                if best_cost is None or cost < best_cost:
                    best_mode, best_cost = mode, cost
            best[by * bw + bx] = 0xFF000000 | (best_mode << 8)
    return best


# ------------------------------------------------------ cross-color

def _i8(v: int) -> int:
    """Reinterpret a byte as signed int8 — both the stored deltas and the
    color values they multiply are signed in the spec's
    ColorTransformDelta."""
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """The spec's ColorTransformDelta: (int8)t * (int8)c >> 5 with an
    ARITHMETIC shift (Python's >> on negative ints floors, matching)."""
    return (_i8(t & 0xFF) * _i8(c & 0xFF)) >> 5


def _cte(ct_pixel: int) -> tuple[int, int, int]:
    """Unpack a ColorTransformElement from its sub-image pixel:
    green_to_red in the BLUE byte, green_to_blue in the GREEN byte,
    red_to_blue in the RED byte."""
    return ct_pixel & 0xFF, (ct_pixel >> 8) & 0xFF, (ct_pixel >> 16) & 0xFF


def _cte_pixel_grids(ctes: list[int], w: int, h: int, size_bits: int):
    """The three per-pixel SIGNED delta grids (g2r, g2b, r2b) from a
    ColorTransformElement sub-image, block grid expanded to pixel
    resolution — shared by the vectorized forward/inverse so they can
    never disagree on the unpacking."""
    import numpy as np

    bs = 1 << size_bits
    bw = (w + bs - 1) >> size_bits
    grid = np.asarray(ctes, dtype=np.uint32).reshape(-1, bw)
    out = []
    for shift in (0, 8, 16):  # g2r blue byte, g2b green, r2b red
        v = ((grid >> shift) & np.uint32(0xFF)).astype(np.int32)
        v = np.where(v >= 128, v - 256, v)
        out.append(np.repeat(np.repeat(v, bs, axis=0), bs, axis=1)[:h, :w])
    return out


def cross_color_inverse(
    pixels: list[int], w: int, h: int, ctes: list[int], size_bits: int
) -> list[int]:
    """Undo the cross-color transform: red regains its green-scaled delta,
    then blue regains its green-scaled delta PLUS its delta scaled by the
    just-reconstructed red — the ordering the spec mandates (the forward
    side subtracted the ORIGINAL red's contribution).

    VECTORIZED (round 11): unlike the predictor inverse there is no
    inter-pixel dependency — each pixel's reconstruction reads only its
    own channels and its block's deltas (the r2b term needs the
    reconstructed red, which is same-pixel) — so the whole image is a
    handful of array expressions. Byte-equivalent to
    ``_cross_color_inverse_scalar`` (randomized equivalence test)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint32).reshape(h, w)
    a = px & np.uint32(0xFF000000)
    r = ((px >> 16) & np.uint32(0xFF)).astype(np.int32)
    g = ((px >> 8) & np.uint32(0xFF)).astype(np.int32)
    b = (px & np.uint32(0xFF)).astype(np.int32)
    g2r, g2b, r2b = _cte_pixel_grids(ctes, w, h, size_bits)
    g_s = np.where(g >= 128, g - 256, g)
    r_new = (r + ((g2r * g_s) >> 5)) & 0xFF
    r_new_s = np.where(r_new >= 128, r_new - 256, r_new)
    b_new = (b + ((g2b * g_s) >> 5) + ((r2b * r_new_s) >> 5)) & 0xFF
    packed = (
        a
        | (r_new.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b_new.astype(np.uint32)
    )
    return [int(v) for v in packed.reshape(-1)]


def _cross_color_inverse_scalar(
    pixels: list[int], w: int, h: int, ctes: list[int], size_bits: int
) -> list[int]:
    """The original per-pixel reference, kept as the equivalence oracle
    for the vectorized ``cross_color_inverse``."""
    out: list[int] = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            g2r, g2b, r2b = _cte(ctes[_block_index(x, y, w, size_bits)])
            a, r, g, b = _chans(pixels[i])
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            out[i] = _pack(a, r, g, b)
    return out


_CC_CANDIDATES = (0, 8, 16, 32, 64, 248, 240, 224, 192)  # 0, ±8, ±16, ±32, ±64


def choose_cross_color_deltas(
    pixels: list[int], w: int, h: int, size_bits: int
) -> list[int]:
    """A simple deterministic encoder-side delta chooser: per block,
    greedily pick green_to_red minimizing the summed modular-min red
    residual, then green_to_blue (with red_to_blue held at 0), then
    red_to_blue — each over the small signed candidate set
    ``_CC_CANDIDATES`` (ties to the earlier candidate). Greedy
    per-component search is how libwebp-class encoders keep this cheap;
    the round-trip identity holds for ANY delta choice, so the chooser
    only affects compression, never correctness. Returns a
    ColorTransformElement sub-image (g2r in blue, g2b in green, r2b in
    red, alpha 0xff), matching the bitstream encoding.

    VECTORIZED (round 11), like ``choose_predictor_modes``: per
    candidate, the delta image is two numpy ops on the signed channel
    arrays, costs block-reduce with ``reduceat``, argmin keeps the
    earliest candidate on ties. Byte-equivalent to
    ``_choose_cross_color_deltas_scalar``, pinned by a randomized
    test."""
    import numpy as np

    bs = 1 << size_bits
    bw = (w + bs - 1) >> size_bits
    bh = (h + bs - 1) >> size_bits
    px = np.asarray(pixels, dtype=np.uint32).reshape(h, w)
    r = ((px >> 16) & np.uint32(0xFF)).astype(np.int32)
    g = ((px >> 8) & np.uint32(0xFF)).astype(np.int32)
    b = (px & np.uint32(0xFF)).astype(np.int32)
    g_s = np.where(g >= 128, g - 256, g)
    r_s = np.where(r >= 128, r - 256, r)
    row_ix = np.arange(0, h, bs)
    col_ix = np.arange(0, w, bs)

    def blocksum(cost):
        return np.add.reduceat(
            np.add.reduceat(cost, row_ix, axis=0), col_ix, axis=1
        ).astype(np.int64)

    def mmin(d):
        d = d & 0xFF
        return np.minimum(d, 256 - d)

    def argmin_candidates(cost_fn):
        stack = np.stack([blocksum(cost_fn(c)) for c in _CC_CANDIDATES])
        idx = np.argmin(stack, axis=0)  # first minimum == earliest candidate
        return np.asarray(_CC_CANDIDATES, dtype=np.int32)[idx]

    def delta(c, signed_src):
        ci = c - 256 if c >= 128 else c
        return (ci * signed_src) >> 5  # arithmetic shift, floors like C

    g2r = argmin_candidates(lambda c: mmin(r - delta(c, g_s)))
    g2b = argmin_candidates(lambda c: mmin(b - delta(c, g_s)))
    # r2b sees the CHOSEN per-block g2b expanded back to pixels
    g2b_px = np.repeat(np.repeat(g2b, bs, axis=0), bs, axis=1)[:h, :w]
    g2b_s = np.where(g2b_px >= 128, g2b_px - 256, g2b_px)
    base = b - ((g2b_s * g_s) >> 5)
    r2b = argmin_candidates(lambda c: mmin(base - delta(c, r_s)))
    out = (
        np.uint32(0xFF000000)
        | (r2b.astype(np.uint32) << 16)
        | (g2b.astype(np.uint32) << 8)
        | g2r.astype(np.uint32)
    )
    return [int(v) for v in out.reshape(-1)]


def _choose_cross_color_deltas_scalar(
    pixels: list[int], w: int, h: int, size_bits: int
) -> list[int]:
    """The original per-pixel reference chooser, kept as the equivalence
    oracle for the vectorized ``choose_cross_color_deltas``."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    out = [0xFF000000] * (bw * bh)

    def _mmin(d: int) -> int:
        d &= 0xFF
        return min(d, 256 - d)

    for by in range(bh):
        for bx in range(bw):
            block = [
                pixels[y * w + x]
                for y in range(by << size_bits, min((by + 1) << size_bits, h))
                for x in range(bx << size_bits, min((bx + 1) << size_bits, w))
            ]
            g2r = min(
                _CC_CANDIDATES,
                key=lambda c: sum(
                    _mmin(((p >> 16) & 0xFF) - _ct_delta(c, (p >> 8) & 0xFF))
                    for p in block
                ),
            )
            g2b = min(
                _CC_CANDIDATES,
                key=lambda c: sum(
                    _mmin((p & 0xFF) - _ct_delta(c, (p >> 8) & 0xFF))
                    for p in block
                ),
            )
            r2b = min(
                _CC_CANDIDATES,
                key=lambda c: sum(
                    _mmin(
                        (p & 0xFF)
                        - _ct_delta(g2b, (p >> 8) & 0xFF)
                        - _ct_delta(c, (p >> 16) & 0xFF)
                    )
                    for p in block
                ),
            )
            out[by * bw + bx] = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    return out


def cross_color_forward(
    pixels: list[int], w: int, h: int, ctes: list[int], size_bits: int
) -> list[int]:
    """Apply the cross-color transform: subtract from red its green-scaled
    delta and from blue its green- and ORIGINAL-red-scaled deltas. Any
    delta sub-image round-trips (the identities are per-byte modular),
    which is what the tests exploit. VECTORIZED (round 11) like the
    inverse — no inter-pixel dependency at all on the forward side;
    byte-equivalent to ``_cross_color_forward_scalar``."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint32).reshape(h, w)
    a = px & np.uint32(0xFF000000)
    r = ((px >> 16) & np.uint32(0xFF)).astype(np.int32)
    g = ((px >> 8) & np.uint32(0xFF)).astype(np.int32)
    b = (px & np.uint32(0xFF)).astype(np.int32)
    g2r, g2b, r2b = _cte_pixel_grids(ctes, w, h, size_bits)
    g_s = np.where(g >= 128, g - 256, g)
    r_s = np.where(r >= 128, r - 256, r)
    new_r = (r - ((g2r * g_s) >> 5)) & 0xFF
    new_b = (b - ((g2b * g_s) >> 5) - ((r2b * r_s) >> 5)) & 0xFF
    packed = (
        a
        | (new_r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | new_b.astype(np.uint32)
    )
    return [int(v) for v in packed.reshape(-1)]


def _cross_color_forward_scalar(
    pixels: list[int], w: int, h: int, ctes: list[int], size_bits: int
) -> list[int]:
    """The original per-pixel reference, kept as the equivalence oracle
    for the vectorized ``cross_color_forward``."""
    out: list[int] = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            g2r, g2b, r2b = _cte(ctes[_block_index(x, y, w, size_bits)])
            a, r, g, b = _chans(pixels[i])
            new_r = (r - _ct_delta(g2r, g)) & 0xFF
            new_b = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
            out[i] = _pack(a, new_r, g, new_b)
    return out


# ------------------------------------------- LZ77 distance plane codes
#
# Public spec: RFC 9649 §4.2.2 "Distance Mapping" / libwebp's
# kCodeToPlaneCodes semantics, re-derived rather than transcribed: the
# first 120 LZ77 distance symbols are not linear distances but a 2D
# neighborhood of the current pixel, ordered by Euclidean closeness —
# close-by pixels in the row above compress to small symbols even on
# wide images, which is why real cwebp output uses them routinely (the
# last decode seam the round-11 verdict ranked #1).


def plane_code_offsets() -> list[tuple[int, int]]:
    """The 120 (dx, dy) offsets behind distance codes 1..120, generated
    from the spec's construction instead of a transcribed table: every
    offset with dy in 0..7 and dx in -7..8 that points at an
    already-decoded pixel (dy > 0, or dy == 0 and dx > 0) — exactly 120
    of them (8 on the current row + 7 rows x 16) — sorted by squared
    Euclidean distance, ties broken by LARGER dy first, then positive
    dx before negative. The first ten decode to (0,1) (1,0) (1,1)
    (-1,1) (0,2) (2,0) (1,2) (-1,2) (2,1) (-2,1), matching the spec's
    packed-nibble table entries 0x18 0x07 0x17 0x19 0x28 0x06 0x27
    0x29 0x16 0x1a (dy = hi nibble, dx = 8 - lo nibble). The packing
    bounds are the table's own constraint: one hex digit per axis."""
    offs = [
        (dx, dy)
        for dy in range(8)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ]
    offs.sort(key=lambda o: (o[0] * o[0] + o[1] * o[1], -o[1], o[0] < 0))
    assert len(offs) == 120
    return offs


_PLANE_OFFSETS = plane_code_offsets()


def plane_code_to_distance(xsize: int, code: int) -> int:
    """Decoder side: LZ77 distance symbol -> scan-line distance. Codes
    above 120 are linear (code - 120); codes 1..120 look up the 2D
    offset and project it onto row-major order (dist = dy*xsize + dx),
    clamped to >= 1 per the spec (an offset can point past the start of
    a narrow image; the clamp keeps the reference valid)."""
    if code > 120:
        return code - 120
    if code < 1:
        raise ValueError(f"VP8L distance code {code} out of range")
    dx, dy = _PLANE_OFFSETS[code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


def _plane_code_map(xsize: int) -> dict[int, int]:
    """Per-width {distance: smallest plane code} lookup, built once and
    memoized — the encoder calls distance_to_plane_code once per LZ77
    backreference, so a 120-entry linear scan there would be ~100x the
    work of this dict hit (round-12 review finding). First-write-wins
    preserves the smallest-code alias rule."""
    m = _PLANE_MAPS.get(xsize)
    if m is None:
        m = {}
        for i, (dx, dy) in enumerate(_PLANE_OFFSETS):
            d = dy * xsize + dx
            if d >= 1 and d not in m:
                m[d] = i + 1
        if len(_PLANE_MAPS) >= 64:  # bound the cache across many widths
            _PLANE_MAPS.clear()
        _PLANE_MAPS[xsize] = m
    return m


_PLANE_MAPS: dict[int, dict[int, int]] = {}


def distance_to_plane_code(xsize: int, dist: int) -> int:
    """Encoder side: scan-line distance -> the SMALLEST plane code that
    decodes back to it at this width, else dist + 120. Aliases are
    real (at xsize=5, (0,1) and (5,0) both mean dist 5) and harmless —
    the decoder recomputes the distance from the offset and the SAME
    xsize, so any alias round-trips; smallest-code is the deterministic
    choice (it is also the one the entropy coder likes)."""
    if dist < 1:
        raise ValueError(f"LZ77 distance {dist} must be >= 1")
    return _plane_code_map(xsize).get(dist, dist + 120)
