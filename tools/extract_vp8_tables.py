"""Recover the RFC 6386 VP8 probability/quantizer tables from a system
libwebp and emit ``akkastreamprocessnpmpackagedependencies_spark/functions/vp8_tables.py``.

The VP8 keyframe decoder (``functions/vp8.py``) needs four large
empirical constant tables from the public spec (RFC 6386):

- ``default_coeff_probs``  [4][8][3][11]  (§13.5, "Default Token
  Probability Table")
- ``coeff_update_probs``   [4][8][3][11]  (§13.4, the probabilities
  governing the per-frame token-probability update flags)
- ``kf_b_mode_probs``      [10][10][9]    (§11.4, context-dependent
  keyframe subblock-mode probabilities)
- ``dc_qlookup``/``ac_qlookup``  [128]    (§14.1, quantizer index ->
  quantizer value lookup)

Typing ~3,300 digits from the spec by hand is the kind of transcription
no test would catch bit-for-bit, so this tool recovers them from the
read-only data segment of the container's BSD-licensed libwebp shared
object (the tables are public-spec constants; the .so is merely a
faithful carrier). Location is by SIGNATURE, not fixed offset — each
table is found via a short prefix this module hard-codes from the spec
(e.g. the first keyframe B-mode context row {231,120,48,...}, §11.4)
and then validated structurally (length, adjacency, value ranges,
monotonicity for the quantizer tables) before anything is emitted.

The recovered tables are NOT trusted on extraction alone: the decoder
test suite (tests/test_vp8.py) decodes libwebp-ENCODED bitstreams with
the pure-Python decoder and requires bit-exact Y/U/V agreement with
libwebp's own decode — a single wrong byte in any probability table
desynchronizes the boolean decoder and fails those tests immediately.

Usage: python tools/extract_vp8_tables.py [libwebp.so path] [out.py]
Writes the generated module and prints a short summary. Re-run only to
regenerate; the generated file is committed.
"""

from __future__ import annotations

import ctypes.util
import os
import struct
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_OUT = os.path.join(
    REPO, "akkastreamprocessnpmpackagedependencies_spark", "functions", "vp8_tables.py"
)

# Spec-known anchor rows (short enough to state with confidence, long
# enough to be unique in a ~450 KB binary):
SIG_BMODE = bytes([231, 120, 48, 89, 115, 113, 120, 152, 112])  # §11.4 row [0][0]
SIG_COEFF = bytes([253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128])  # §13.5 [0][0][0]
SIG_ZIGZAG = bytes([0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15])  # §13.3
SIG_BANDS = bytes([0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7])  # §13.3
SIG_CAT6 = bytes([254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129])  # §13.2 Pcat6


def _find_all(data: bytes, sig: bytes) -> list[int]:
    out, i = [], data.find(sig)
    while i != -1:
        out.append(i)
        i = data.find(sig, i + 1)
    return out


def _find_one(data: bytes, sig: bytes, what: str) -> int:
    hits = _find_all(data, sig)
    if not hits:
        raise SystemExit(f"signature for {what} not found in the library")
    # libwebp carries decoder AND encoder copies of some tables; any
    # copy is fine (they must be identical — verified below when >1)
    for a in hits[1:]:
        span = len(sig)
        if data[a : a + span] != data[hits[0] : hits[0] + span]:
            raise SystemExit(f"{what}: divergent copies at {hits}")
    return hits[0]


def extract(lib_path: str) -> dict[str, object]:
    data = open(lib_path, "rb").read()

    bmode_at = _find_one(data, SIG_BMODE, "kf_b_mode_probs")
    coeff_at = _find_one(data, SIG_COEFF, "default_coeff_probs")
    zig_at = _find_one(data, SIG_ZIGZAG, "zigzag")
    bands_at = _find_one(data, SIG_BANDS, "coeff_bands")
    cat6_at = _find_one(data, SIG_CAT6, "cat6 probs")

    raw_b_mode = list(data[bmode_at : bmode_at + 900])
    # libwebp's 4x4-mode enum orders {DC,TM,VE,HE,RD,VR,LD,VL,HD,HU} —
    # its table rows/cols index RD=4, VR=5, LD=6 — while RFC 6386 §11.2
    # numbers {DC,TM,VE,HE,LD,RD,VR,VL,HD,HU}. The decoder (and its
    # tree/prediction dispatch) uses RFC numbering, so permute both
    # axes into RFC order: RFC mode m lives at libwebp row PERM[m].
    # (Without it B_PRED context chains pick wrong probability rows for
    # any neighborhood containing a diagonal mode, and libwebp rejects
    # the synthetic streams.)
    perm = [0, 1, 2, 3, 6, 4, 5, 7, 8, 9]
    kf_b_mode = [
        raw_b_mode[(perm[a] * 10 + perm[l]) * 9 + p_]
        for a in range(10) for l in range(10) for p_ in range(9)
    ]
    # The {253,136,...} anchor row is default_coeff_probs[0][1][0], NOT
    # the table start: the true [0][0] context rows are 33 bytes of 128
    # placeholders (type-0 blocks begin at position 1, so band 0 is
    # unreachable and the spec fills it with 128s), as VP8ParseProba's
    # table base confirms: anchoring at the first NON-bland row shifts
    # every band by one and makes the
    # decoder read EOB bits at prob 1 (the real bitstreams are
    # information-theoretically too short for that model). Anchor 33
    # bytes back and validate the placeholder prefix.
    coeff_at -= 33
    default_coeff = list(data[coeff_at : coeff_at + 1056])
    if default_coeff[:33] != [128] * 33:
        raise SystemExit(
            "default_coeff_probs prefix is not the 33-byte 128 "
            f"placeholder block: {default_coeff[:33]}"
        )
    # coeff_update_probs immediately precedes kf_b_mode_probs in
    # libwebp's layout; validate by its spec-known shape — §13.4's
    # table is dominated by 255 (most tokens never update)
    upd_at = bmode_at - 1056
    coeff_update = list(data[upd_at : upd_at + 1056])
    frac255 = sum(b == 255 for b in coeff_update) / 1056
    if not 0.7 < frac255 < 0.95 or min(coeff_update) < 128:
        raise SystemExit(
            f"coeff_update_probs candidate fails shape check "
            f"(255-fraction {frac255:.2f}, min {min(coeff_update)})"
        )
    # quantizer lookups precede the bands table: ac as uint16[128],
    # then dc as uint8[128] (both §14.1; dc fits a byte, ac does not)
    dc_at = bands_at - 128
    dc_q = list(data[dc_at : dc_at + 128])
    ac_at = dc_at - 256
    ac_q = list(struct.unpack_from("<128H", data, ac_at))
    for name, t, lo, hi in (("dc_qlookup", dc_q, 4, 157), ("ac_qlookup", ac_q, 4, 284)):
        if t[0] != lo or t[-1] != hi or any(a > b for a, b in zip(t, t[1:])):
            raise SystemExit(f"{name} fails §14.1 shape check: {t[:6]}..{t[-3:]}")
    # token category extra-bit probabilities, §13.2: Pcat6 is the
    # anchor; Pcat5/4/3 follow it NUL-separated in this layout
    def _take(at: int, n: int) -> list[int]:
        row = list(data[at : at + n])
        if any(v < 128 for v in row):
            raise SystemExit(f"cat-prob row at {at} fails range check: {row}")
        return row

    cat6 = _take(cat6_at, 11)
    cat5 = _take(cat6_at + 12, 5)
    cat4 = _take(cat6_at + 18, 4)
    cat3 = _take(cat6_at + 23, 3)
    # Pcat1/Pcat2 are too short to anchor reliably in a binary scan;
    # they are single-row §13.2 constants stated directly
    cat_probs = [[159], [165, 145], cat3, cat4, cat5, cat6]
    if cat3 != [173, 148, 140] or cat5 != [180, 157, 141, 134, 130]:
        raise SystemExit(f"cat probs fail §13.2 anchor check: {cat3} {cat5}")
    return {
        "dc_qlookup": dc_q,
        "ac_qlookup": ac_q,
        "coeff_bands": list(SIG_BANDS),
        "zigzag": list(SIG_ZIGZAG),
        "cat_probs": cat_probs,
        "default_coeff_probs": default_coeff,
        "coeff_update_probs": coeff_update,
        "kf_b_mode_probs": kf_b_mode,
    }


def _fmt_flat(name: str, flat: list[int], shape: tuple[int, ...], per_line: int) -> str:
    lines = [f"# shape {list(shape)}, flattened row-major"]
    lines.append(f"{name} = [")
    for i in range(0, len(flat), per_line):
        lines.append("    " + ", ".join(str(v) for v in flat[i : i + per_line]) + ",")
    lines.append("]")
    return "\n".join(lines)


def main() -> None:
    lib_path = sys.argv[1] if len(sys.argv) > 1 else (
        ctypes.util.find_library("webp")
        or "/usr/lib/x86_64-linux-gnu/libwebp.so.7"
    )
    # find_library may return a bare soname; resolve via the loader
    if not os.path.exists(lib_path):
        cand = os.path.join("/usr/lib/x86_64-linux-gnu", lib_path)
        if os.path.exists(cand):
            lib_path = cand
    out_path = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_OUT
    t = extract(os.path.realpath(lib_path))
    body = [
        '"""VP8 keyframe constant tables (RFC 6386 §13.2-13.5, §14.1, §11.4).',
        "",
        "GENERATED by tools/extract_vp8_tables.py — recovered by signature",
        f"from {os.path.basename(lib_path)} (BSD-licensed libwebp; the tables are",
        "public-spec constants) and validated structurally there, then",
        "functionally by tests/test_vp8.py: the pure-Python decoder must",
        "agree BIT-EXACTLY with libwebp's decode of libwebp-encoded",
        "bitstreams, which a single wrong byte in any of these tables",
        "breaks immediately (the boolean decoder desynchronizes).",
        "",
        "Do not edit by hand; re-run the extractor to regenerate.",
        '"""',
        "",
        "# flake8: noqa: E501",
        "",
        _fmt_flat("DC_QLOOKUP", t["dc_qlookup"], (128,), 16),
        "",
        _fmt_flat("AC_QLOOKUP", t["ac_qlookup"], (128,), 16),
        "",
        f"COEFF_BANDS = {t['coeff_bands']}",
        "",
        f"ZIGZAG = {t['zigzag']}",
        "",
        "# extra-bit probabilities for DCT token categories 1..6 (§13.2)",
        f"CAT_PROBS = {t['cat_probs']}",
        "",
        _fmt_flat("DEFAULT_COEFF_PROBS", t["default_coeff_probs"], (4, 8, 3, 11), 11),
        "",
        _fmt_flat("COEFF_UPDATE_PROBS", t["coeff_update_probs"], (4, 8, 3, 11), 11),
        "",
        _fmt_flat("KF_B_MODE_PROBS", t["kf_b_mode_probs"], (10, 10, 9), 9),
        "",
    ]
    with open(out_path, "w") as f:
        f.write("\n".join(body))
    print(
        f"wrote {out_path}: dc/ac qlookup 128+128, coeff probs 1056+1056, "
        f"kf b-mode 900, from {lib_path}"
    )


if __name__ == "__main__":
    main()
