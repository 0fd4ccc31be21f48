"""Deep fuzz of the complete WebP VP8L encode/decode mode matrix, to
re-run whenever the codec gains a bitstream shape.

Matrix: three raster families (uniform noise, smooth gradients,
small-palette blocks) x every encode-mode combination that composes
(LZ77 on/off x color-cache sizes x subtract-green x palette x
predictor x cross-color x PLANE CODES, with the documented exclusions:
palette composes with nothing spatial, plane codes require LZ77)
x RGB/RGBA x w<=40, h<=32. Oracle: decode(encode(raster)) must be
BIT-IDENTICAL to the source bytes; the one documented convention is
the opaque-alpha collapse (an RGBA raster whose alpha plane is all 255
decodes as 3-channel — pinned in tests/test_webp.py), which the fuzzer
honors by forcing at least one non-255 alpha byte into every RGBA
raster.

Usage: python tools/fuzz_webp_matrix.py [cases] [out_json]
Defaults: 60000 cases, FUZZ_webp_matrix.json in the repo root.
Deterministic: case i derives its raster from default_rng(i), so a
failure report's case index reproduces standalone.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from akkastreamprocessnpmpackagedependencies_spark.functions.webp import (  # noqa: E402
    decode_webp,
    encode_webp,
)


def build_modes() -> list[dict]:
    """Every composable mode combination (the full cross product minus
    the documented exclusions), deduplicated."""
    modes: list[dict] = []
    for lz, cb, sg, pred, cc, pc in itertools.product(
        (False, True), (0, 3, 6), (False, True),
        (False, True), (False, True), (False, True),
    ):
        if pc and not lz:
            continue  # plane codes are an LZ77 distance encoding
        modes.append(dict(
            use_lz77=lz, cache_bits=cb, subtract_green=sg,
            predictor=pred, cross_color=cc, transform_bits=2,
            plane_codes=pc,
        ))
    # palette composes only with lz77/cache/plane choices
    for lz, cb, pc in itertools.product((False, True), (0, 4), (False, True)):
        if pc and not lz:
            continue
        modes.append(dict(use_lz77=lz, cache_bits=cb, palette=True,
                          plane_codes=pc))
    return modes


def raster(rng: np.random.Generator, w: int, h: int, c: int, family: int) -> bytes:
    if family == 0:  # uniform noise
        arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    elif family == 1:  # smooth gradients (predictor/cross-color territory)
        x = np.arange(w, dtype=np.int32)
        y = np.arange(h, dtype=np.int32)[:, None]
        base = (x[None, :] * int(rng.integers(1, 9))
                + y * int(rng.integers(1, 9)))
        arr = np.stack(
            [((base + int(rng.integers(0, 256))) % 256).astype(np.uint8)
             for _ in range(c)],
            axis=-1,
        )
    else:  # small-palette blocks (palette/cache/LZ77 territory)
        ncol = int(rng.integers(1, 17))
        pal = rng.integers(0, 256, size=(ncol, c), dtype=np.uint8)
        arr = pal[rng.integers(0, ncol, size=(h, w))]
    if c == 4:
        # force a translucent pixel so the opaque-alpha collapse
        # convention never fires (it is pinned separately in tests)
        arr = arr.copy()
        arr[0, 0, 3] = 128
    return arr.tobytes()


def main() -> None:
    n_cases = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "FUZZ_webp_matrix.json"
    )
    modes = build_modes()
    per_mode: dict[int, int] = {}
    failures: list[dict] = []
    t0 = time.perf_counter()
    for i in range(n_cases):
        rng = np.random.default_rng(i)
        w = int(rng.integers(1, 41))
        h = int(rng.integers(1, 33))
        c = int(rng.integers(3, 5))
        m = modes[i % len(modes)]
        # palette mode REQUIRES <=256 distinct colors (raises otherwise,
        # by design — pinned in tests); only the small-palette family
        # satisfies that at every size, so palette cases draw from it
        family = 2 if m.get("palette") else int(rng.integers(0, 3))
        raw = raster(rng, w, h, c, family)
        try:
            W, H, C, arr = decode_webp(encode_webp(w, h, raw, c, **m))
            ok = (W, H, C) == (w, h, c) and arr.tobytes() == raw
        except Exception as ex:  # noqa: BLE001 — a fuzz harness records
            ok = False           # every failure class, then re-raises in
            failures.append({"case": i, "error": repr(ex)[:200]})  # summary
        if not ok and (not failures or failures[-1].get("case") != i):
            failures.append({"case": i, "error": "pixel mismatch"})
        per_mode[i % len(modes)] = per_mode.get(i % len(modes), 0) + 1
        if len(failures) >= 20:
            break  # enough to diagnose; don't drown the report
    wall = time.perf_counter() - t0
    result = {
        "cases_run": sum(per_mode.values()),
        "modes_in_matrix": len(modes),
        "plane_code_modes": sum(1 for m in modes if m.get("plane_codes")),
        "failures": failures,
        "wall_sec": round(wall, 1),
        "cases_per_sec": round(sum(per_mode.values()) / wall, 1),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps(result))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
