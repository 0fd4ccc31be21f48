"""Two-way VP8L interop fuzz: the pure-Python codec (functions/webp.py)
against the system libwebp, at fuzz scale — the committed-harness
companion to the permanent interop tests in tests/test_webp.py.

Why: a transcription bug in the code-length order once survived
60,000 self-round-trip fuzz cases because encoder and decoder shared
the constant; it died the first time an independent implementation
judged the streams. This harness makes that
judgment a standing, reproducible sweep in BOTH directions:

- OUTBOUND: our encoder (a rotation over every bitstream shape —
  literals / LZ77 / color cache / subtract-green / predictor /
  cross-color stacks / plane codes / palette-sized rasters) must
  produce streams libwebp decodes to the EXACT source pixels.
- INBOUND: libwebp's lossless encoder (its own palette transforms,
  predictor choices, multi-group codes) must produce streams our
  decoder reproduces EXACTLY.

Case i regenerates from ``default_rng(i)`` alone.

Usage: python tools/fuzz_vp8l_interop.py [n_per_direction] [out_json]
Default 1500 per direction -> FUZZ_vp8l_interop.json in the repo root.
"""

from __future__ import annotations

import ctypes
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from akkastreamprocessnpmpackagedependencies_spark.functions import webp as W  # noqa: E402
from akkastreamprocessnpmpackagedependencies_spark.functions import webplib as wl  # noqa: E402

MODES = [
    dict(use_lz77=False, cache_bits=0),
    dict(use_lz77=True, cache_bits=0),
    dict(use_lz77=True, cache_bits=6),
    dict(use_lz77=True, cache_bits=6, subtract_green=True),
    dict(use_lz77=True, cache_bits=0, predictor=True, transform_bits=2),
    dict(use_lz77=True, cache_bits=4, subtract_green=True, predictor=True,
         cross_color=True, transform_bits=2),
    dict(use_lz77=True, cache_bits=0, plane_codes=True),
    dict(use_lz77=True, cache_bits=2, plane_codes=True, subtract_green=True),
]


def _raster(rng, w: int, h: int) -> np.ndarray:
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    if kind == 1:  # few colors (palette territory for libwebp)
        pal = rng.integers(0, 256, (int(rng.integers(2, 17)), 3)).astype(np.uint8)
        idx = rng.integers(0, len(pal), (h, w))
        return pal[idx]
    if kind == 2:
        x = np.linspace(0, 255, w)[None, :] + np.linspace(
            0, float(rng.integers(5, 90)), h
        )[:, None]
        return np.stack([x, x[::-1], 0.5 * x], -1).astype(np.uint8)
    g = ((np.indices((h, w)).sum(0) % int(rng.integers(3, 30))) * 11).astype(np.uint8)
    return np.stack([g, 255 - g, g // 3], -1)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "FUZZ_vp8l_interop.json"
    )
    if not wl.available():
        sys.exit("system libwebp not present; the harness has no counterpart")
    lib = ctypes.CDLL("libwebp.so.7")
    lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    t0 = time.perf_counter()
    failures = []
    for i in range(n):
        rng = np.random.default_rng(i)
        w = int(rng.integers(1, 65))
        h = int(rng.integers(1, 65))
        img = np.ascontiguousarray(_raster(rng, w, h))
        mode = MODES[i % len(MODES)]
        # outbound: our encode -> libwebp decode
        data = W.encode_webp(w, h, img.tobytes(), 3, **mode)
        try:
            rw, rh, ref = wl.decode_rgb(data)
            if (rw, rh) != (w, h) or not np.array_equal(ref, img):
                failures.append({"case": i, "dir": "outbound", "w": w, "h": h,
                                 "mode": i % len(MODES), "kind": "mismatch"})
        except ValueError:
            failures.append({"case": i, "dir": "outbound", "w": w, "h": h,
                             "mode": i % len(MODES), "kind": "rejected"})
        # inbound: libwebp encode -> our decode
        out = ctypes.c_void_p()
        sz = lib.WebPEncodeLosslessRGB(
            img.tobytes(), w, h, w * 3, ctypes.byref(out)
        )
        real = ctypes.string_at(out.value, sz)
        lib.WebPFree(out)
        try:
            dw, dh, dc, arr = W.decode_webp(real)
            got = arr[:, :, :3] if dc == 4 else arr
            if (dw, dh) != (w, h) or not np.array_equal(got, img):
                failures.append({"case": i, "dir": "inbound", "w": w, "h": h,
                                 "kind": "mismatch"})
        except ValueError as ex:
            failures.append({"case": i, "dir": "inbound", "w": w, "h": h,
                             "kind": f"error: {ex}"})
        if (i + 1) % 250 == 0:
            print(f"{i + 1}/{n} cases x 2 directions, {len(failures)} failures",
                  flush=True)
    wall = time.perf_counter() - t0
    result = {
        "harness": "VP8L two-way interop vs libwebp, bit-exact pixels",
        "cases_per_direction": n,
        "modes_outbound": len(MODES),
        "raster_kinds": ["noise", "few-color/palette", "gradient", "banded"],
        "size_range": [1, 64],
        "failures": failures,
        "n_failures": len(failures),
        "wall_sec": round(wall, 1),
        "reproduce": "python tools/fuzz_vp8l_interop.py; case i regenerates from default_rng(i)",
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(f"{n}x2 cases in {wall:.0f}s: {len(failures)} failures -> {out_json}")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
