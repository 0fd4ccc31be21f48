"""Compare two bench JSON files per query and flag real regressions.

Usage: python tools/bench_compare.py OLD.json NEW.json [ratio]
                                     [--normalize auto|cal|median|none]
                                     [--fail-on-regression]

Accepts either a raw ``bench.py`` output line saved to a file or a
driver-recorded ``BENCH_r{N}.json``. A driver file's payload sits under
``parsed``; when the driver's capture window truncated the line
(``parsed: null`` — BENCH_r04.json is exactly this), the loader
re-parses what it can from the ``tail`` string by scanning the longest
``"name": float`` run, so a truncated artifact still yields its
surviving queries instead of silently comparing nothing. Prints every
query whose median changed by more than the ratio (default 1.5x either
way) plus adds/removes, so a change's bench deltas are triaged in one
look instead of eyeballing two JSON blobs.

Session normalization: ambient drift between sessions can shift every
query uniformly (one session ran 1.66x slower and flagged 89 of 96
untouched queries), so bench.py times a fixed calibration
micro-workload (deterministic in-memory agg + one shuffle, no parquet,
bracketing the measured passes) and records its median. When BOTH artifacts carry it, every NEW median and
band is divided by (new_cal / old_cal) before any flagging logic — the
calibration measures the session, never the code, so a uniformly
shifted session cancels out. ``--normalize median`` is the fallback for
artifacts without calibration: it divides by the median
per-query ratio instead (a uniform shift moves that median; real
regressions in a handful of queries do not). ``--normalize none``
disables both.

Noise-band suppression: when BOTH files carry the per-query ``spread`` ([min, median, max] over the
measured passes), a super-threshold delta is suppressed as noise ONLY if
the (normalized) new MEDIAN lies inside the old [min, max] band — mere
band overlap let one outlier pass inflate a band enough to mask a
genuine 1.5x median regression indefinitely. Files without spread fall
back to median-only flagging. Suppressed deltas are summarized so they
stay auditable.

Exits non-zero when an input yields ZERO queries — that is a broken
artifact, not an empty delta; explained deltas stay exit 0 (see the
PLANS.md bench-methodology note). With ``--fail-on-regression`` (the
verify_all gate) it
ALSO exits non-zero when any query's normalized median is >ratio slower
AND outside the old sample band — the confirmed-regression definition;
in-band deltas remain suppressed noise and speedups stay exit 0."""

from __future__ import annotations

import json
import re
import statistics
import sys


def _from_tail(tail: str) -> dict[str, float]:
    """Salvage per-query timings from a truncated capture: every
    '"name": <number>' pair inside the (possibly tail-only) queries map.
    Non-query scalar fields (value, sf, runs_per_query, n_queries,
    calibration) are filtered by name; collisions are impossible because
    query names never match them."""
    skip = {"value", "sf", "runs_per_query", "n_queries", "calibration"}
    out = {}
    # anchor on the preceding '{' or ',' so a tail window that starts
    # mid-pair can't salvage a cut-off name fragment ("...ency_counts")
    # as a phantom query
    for name, num in re.findall(r'[{,]\s*"([A-Za-z0-9_]+)":\s*(-?\d+(?:\.\d+)?)', tail):
        if name not in skip:
            out[name] = float(num)
    return out


def load(
    path: str,
) -> tuple[
    dict[str, float], dict[str, list[float]], float | None, dict, dict,
    float | None, frozenset,
]:
    """Returns (median per query, spread per query, calibration median,
    streaming section, kernels section, PYWORKER calibration median,
    pyworker-tagged query names). Spread/calibration/streaming/kernels/
    pyworker are empty for older artifacts and truncated-tail salvage."""
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d:
        if isinstance(d["parsed"], dict):
            d = d["parsed"]
        else:  # truncated driver capture: salvage from the raw tail
            qs = _from_tail(d.get("tail", ""))
            if qs:
                print(
                    f"warning: {path} has parsed=null; salvaged "
                    f"{len(qs)} queries from its tail",
                    file=sys.stderr,
                )
            return qs, {}, None, {}, {}, None, frozenset()
    cal = d.get("calibration")
    py_cal = d.get("calibration_pyworker")  # compact-line scalar
    if isinstance(cal, dict):  # BENCH_FULL carries the whole record
        py = cal.get("pyworker") or {}
        py_cal = py.get("median")
        cal = cal.get("median")
    raw_tags = d.get("pyworker_queries")
    tags = frozenset(raw_tags or [])
    if raw_tags is None:
        # current compact lines carry their own (kept-query-intersected)
        # tag list, which the branch above prefers — including a
        # present-but-empty list, which is authoritative ("none of the
        # kept queries are pyworker"), not missing data. Only genuinely
        # tagless artifacts (older compact lines) reach here; backfill
        # from the CURRENT checkout's bench.py and say so out loud,
        # because the live tag set may not describe what an
        # OLD artifact measured — a query added to PYWORKER_QUERIES
        # since then would silently switch normalization classes for
        # that artifact's side
        try:
            import os as _os
            import sys as _sys

            _sys.path.insert(
                0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
            )
            from bench import PYWORKER_QUERIES as tags  # noqa: N811

            print(
                f"note: {path} carries no pyworker_queries tag list; "
                f"backfilled {len(tags)} tags from the CURRENT checkout's "
                "bench.py — if the artifact predates a tag-set change, "
                "those queries normalize by the wrong calibration class",
                file=sys.stderr,
            )
        except Exception:
            tags = frozenset()
    return (
        d.get("queries", {}),
        d.get("spread", {}),
        cal,
        d.get("streaming") or {},
        d.get("kernels") or {},
        py_cal,
        frozenset(tags),
    )


def session_norm(
    old: dict[str, float],
    new: dict[str, float],
    old_cal: float | None,
    new_cal: float | None,
    mode: str,
) -> tuple[float, str]:
    """The divisor applied to every NEW timing before flagging, plus a
    human-readable provenance string. 1.0 when normalization is off or
    impossible."""
    if mode == "none":
        return 1.0, "normalization disabled"
    if mode in ("cal", "auto") and old_cal and new_cal and old_cal > 0:
        return (
            new_cal / old_cal,
            f"calibration {old_cal:.4f}s -> {new_cal:.4f}s",
        )
    if mode == "median":
        ratios = [new[q] / old[q] for q in set(old) & set(new) if old[q] > 0 and new[q] > 0]
        if ratios:
            return (
                statistics.median(ratios),
                f"median per-query ratio over {len(ratios)} common queries",
            )
    return 1.0, "no calibration in both artifacts; not normalized"


def pyworker_norm(
    old: dict[str, float],
    new: dict[str, float],
    old_pycal: float | None,
    new_pycal: float | None,
    py_tags: frozenset,
    mode: str,
    jvm_norm: float,
    label: str = "pyworker normalization",
) -> float | None:
    """Divisor for PYWORKER-tagged queries, or None to fall back to the
    JVM divisor. Both calibrations present: their ratio. An artifact
    without the pyworker calibration on either side: dividing tagged
    queries by the JVM calibration phantom-flags them wholesale when
    only the JVM side of the session shifted (seen in two sessions), so the
    tagged class self-normalizes by its own median ratio when >=5 are
    in common — a uniform python-side shift cancels while a single real
    regression still stands out; a class-wide coordinated regression is
    the blind spot, which is what the printed divisor and the
    --drift-since line are for. Shared by the pairwise comparison and
    the cumulative-drift line, so the drift total cannot re-introduce
    the phantom this avoids."""
    if mode not in ("cal", "auto"):
        return None
    if old_pycal and new_pycal and old_pycal > 0:
        ratio = new_pycal / old_pycal
        print(
            f"{label}: dividing {len(py_tags)} tagged "
            f"queries by {ratio:.3f} (pyworker calibration "
            f"{old_pycal:.4f}s -> {new_pycal:.4f}s)"
        )
        return ratio
    if not py_tags or jvm_norm == 1.0:
        return None
    missing = [s for s, c in (("old", old_pycal), ("new", new_pycal)) if not c]
    tagged_both = [
        q for q in py_tags
        if q in old and q in new and old[q] > 0 and new[q] > 0
    ]
    if len(tagged_both) >= 5:
        ratio = statistics.median(new[q] / old[q] for q in tagged_both)
        print(
            f"{label}: calibration missing from "
            f"{' and '.join(missing)} artifact — dividing "
            f"{len(tagged_both)} tagged queries by their own median "
            f"ratio {ratio:.3f} (class-wide shifts cancel; a "
            "class-wide REAL regression would too — check the "
            "drift line)"
        )
        return ratio
    print(
        f"{label}: unavailable (calibration "
        f"missing from {' and '.join(missing)} artifact, "
        f"{len(tagged_both)} tagged in common — too few for a "
        "median) — tagged queries fall back to the JVM session "
        "calibration (treat their flags as advisory)"
    )
    return None


def median_in_band(median: float, band: list[float]) -> bool:
    """True when ``median`` lies inside the [min, .., max] sample band —
    the suppression rule (new median within OLD band), strictly tighter
    than band overlap, which a single outlier pass could satisfy
    forever."""
    return band[0] <= median <= band[-1]


_MODES = ("auto", "cal", "median", "none")


def main() -> None:
    argv = list(sys.argv[1:])
    mode = "auto"
    fail_on_regression = "--fail-on-regression" in argv
    if fail_on_regression:
        argv.remove("--fail-on-regression")
    json_flags = None
    if "--json-flags" in argv:
        i = argv.index("--json-flags")
        if i + 1 >= len(argv):
            sys.exit("error: --json-flags needs a file path")
        json_flags = argv[i + 1]
        del argv[i : i + 2]
    if "--normalize" in argv:
        i = argv.index("--normalize")
        # a trailing --normalize or a typo'd mode must not fall through
        # to a misleading "no calibration" note
        if i + 1 >= len(argv) or argv[i + 1] not in _MODES:
            got = argv[i + 1] if i + 1 < len(argv) else "(nothing)"
            sys.exit(
                f"error: --normalize needs one of {'/'.join(_MODES)}, got {got!r}"
            )
        mode = argv[i + 1]
        del argv[i : i + 2]
    drift_since = None
    if "--drift-since" in argv:
        i = argv.index("--drift-since")
        if i + 1 >= len(argv):
            sys.exit("error: --drift-since needs a bench artifact path")
        drift_since = argv[i + 1]
        del argv[i : i + 2]
    if len(argv) < 2:
        sys.exit(__doc__)
    (
        (old, old_sp, old_cal, old_str, old_ker, old_pycal, old_tags),
        (new, new_sp, new_cal, new_str, new_ker, new_pycal, new_tags),
    ) = (
        load(argv[0]),
        load(argv[1]),
    )
    bad = [p for p, qs in ((argv[0], old), (argv[1], new)) if not qs]
    if bad:
        sys.exit(f"error: no queries parseable from: {', '.join(bad)}")
    ratio = float(argv[2]) if len(argv) > 2 else 1.5
    norm, why = session_norm(old, new, old_cal, new_cal, mode)
    if norm != 1.0:
        print(f"session normalization: dividing new timings by {norm:.3f} ({why})")
    else:
        print(f"session normalization: off ({why})")
    # pyworker twin: queries tagged python-worker-bound are normalized
    # by the mapInPandas calibration instead — the JVM calibration
    # over-corrects them when only the JVM side of the session shifted
    # (a phantom uniform ~1.2x on untouched python-heavy queries)
    py_tags = new_tags or old_tags
    py_norm = pyworker_norm(
        old, new, old_pycal, new_pycal, py_tags, mode, norm
    )

    def _norm_for(q: str) -> float:
        return py_norm if (py_norm is not None and q in py_tags) else norm

    both = sorted(set(old) & set(new))
    flagged, suppressed = [], []
    for q in both:
        a, b = old[q], new[q] / _norm_for(q)
        if (b == 0) != (a == 0):
            # a measured query can't take literally 0s on either side —
            # suspicious artifact value on either side, not a real delta
            flagged.append((0.0, q, a, b))
        elif a > 0 and (b / a >= ratio or (b > 0 and a / b >= ratio)):
            if q in old_sp and q in new_sp and median_in_band(b, old_sp[q]):
                suppressed.append((b / a, q, a, b))
            else:
                flagged.append((b / a, q, a, b))
    for r, q, a, b in sorted(flagged, reverse=True):
        tag = "ZERO??" if (b == 0) != (a == 0) else ("SLOWER" if r > 1 else "faster")
        band = ""
        if q in old_sp and q in new_sp:
            band = (
                f"  bands [{old_sp[q][0]:.2f},{old_sp[q][-1]:.2f}] vs "
                f"norm'd [{new_sp[q][0] / _norm_for(q):.2f},"
                f"{new_sp[q][-1] / _norm_for(q):.2f}]"
            )
        print(f"{tag:6s} {q:36s} {a:8.3f} -> {b:8.3f}  ({r:5.2f}x){band}")
    for r, q, a, b in sorted(suppressed, reverse=True):
        print(
            f"noise  {q:36s} {a:8.3f} -> {b:8.3f}  ({r:5.2f}x) "
            f"normalized median inside old band — not flagged"
        )
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"added   ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    # streaming surface (BENCH_FULL "streaming"): compare rows/s per op,
    # normalized the same way (rows/s scales INVERSELY with session
    # slowness, so multiply by norm)
    s_both = sorted(set(old_str) & set(new_str))
    s_flagged, s_suppressed = 0, 0
    for op in s_both:
        a = old_str[op].get("rows_per_sec") or 0
        b = (new_str[op].get("rows_per_sec") or 0) * norm
        if a and b and (a / b >= ratio or b / a >= ratio):
            # bench.py records a cross-pass rows_per_sec_band per op
            # (median-of-STREAM_PASSES); the batch side's suppression
            # rule applies unchanged — a swing whose normalized new rate
            # still lies inside the OLD band is session noise, not a
            # regression (three quiet passes of one build swung untouched
            # ops both ways, e.g. stateful_user_counts 11k-32k rows/s)
            oband = old_str[op].get("rows_per_sec_band")
            if oband and median_in_band(b, sorted(oband)):
                s_suppressed += 1
                print(
                    f"noise  [stream] {op:27s} {a:8.0f} -> {b:8.0f} rows/s "
                    f"norm'd rate inside old band "
                    f"[{min(oband):.0f},{max(oband):.0f}] — not flagged"
                )
                continue
            s_flagged += 1
            tag = "SLOWER" if b < a else "faster"
            band = (
                f"  old band [{min(oband):.0f},{max(oband):.0f}]"
                if oband else ""
            )
            print(f"{tag:6s} [stream] {op:27s} {a:8.0f} -> {b:8.0f} rows/s{band}")
    if s_both:
        print(
            f"streaming: {len(s_both)} common ops, flagged >{ratio}x: "
            f"{s_flagged}"
            + (f"; noise-suppressed: {s_suppressed}" if s_suppressed else "")
        )
    # kernel surface (BENCH_FULL "kernels"): pure-numpy rows/s per
    # sketch kernel, normalized by the KERNEL calibration (the numpy
    # twin of the session calibration — Spark's JVM calibration can't
    # see non-JVM work). rows/s scales inversely with host slowness, so
    # multiply the new rate by (new_kcal / old_kcal).
    k_old, k_new = old_ker.get("kernels", {}), new_ker.get("kernels", {})
    k_both = sorted(set(k_old) & set(k_new))
    if k_both:
        ko_cal = old_ker.get("calibration_sec")
        kn_cal = new_ker.get("calibration_sec")
        if ko_cal and kn_cal:
            k_norm = kn_cal / ko_cal
        else:
            # comparing raw rows/s across differently-loaded hosts can
            # flag phantom regressions or mask real ones — say so loudly
            # instead of silently normalizing by 1.0
            k_norm = 1.0
            # name each missing side, both when both are absent
            missing = [
                s for s, c in (("old", ko_cal), ("new", kn_cal)) if not c
            ]
            print(
                "WARNING [kernel] calibration_sec missing from "
                f"{' and '.join(missing)} artifact — comparing "
                "RAW rows/s (uncalibrated; treat flags as advisory)"
            )
        k_flagged = []
        for op in k_both:
            a = k_old[op].get("rows_per_sec") or 0
            b = (k_new[op].get("rows_per_sec") or 0) * k_norm
            if a and b and (a / b >= ratio or b / a >= ratio):
                k_flagged.append(op)
                tag = "SLOWER" if b < a else "faster"
                print(f"{tag:6s} [kernel] {op:27s} {a:8.0f} -> {b:8.0f} rows/s")
        print(
            f"kernels: {len(k_both)} common, norm {k_norm:.3f} "
            f"(numpy cal {ko_cal} -> {kn_cal}), flagged >{ratio}x: "
            f"{len(k_flagged)}"
        )
        regressed_kernels = [
            op for op in k_flagged
            if (k_new[op].get("rows_per_sec") or 0) * k_norm
            < (k_old[op].get("rows_per_sec") or 0)
        ]
    else:
        regressed_kernels = []
    tot_o = sum(old[q] for q in both)
    tot_n = sum(new[q] / _norm_for(q) for q in both)
    rate = f"{tot_n / tot_o:.2f}x" if tot_o else "n/a"
    print(
        f"common {len(both)} queries: {tot_o:.2f}s -> {tot_n:.2f}s normalized "
        f"({rate}); flagged >{ratio}x: {len(flagged)}"
        + (f"; noise-suppressed: {len(suppressed)}" if suppressed else "")
    )
    if drift_since:
        # cumulative-drift line: sub-threshold creep (1.11x in one step)
        # compounds invisibly across changes when each pairwise
        # comparison stays inside the flag ratio; anchoring a
        # second total against the OLDEST calibration-bearing artifact
        # makes the accumulated drift a printed, gateable number.
        b0, _, b0_cal, _, _, b0_pycal, b0_tags = load(drift_since)
        d_norm, d_why = session_norm(b0, new, b0_cal, new_cal, mode)
        # the drift total divides tagged queries by their own class
        # divisor too — summing them under the JVM divisor re-creates
        # the phantom uniform shift pyworker_norm avoids
        d_tags = new_tags or b0_tags
        d_pynorm = pyworker_norm(
            b0, new, b0_pycal, new_pycal, d_tags, mode, d_norm,
            label="pyworker normalization (drift)",
        )
        d_both = sorted(set(b0) & set(new))
        if d_both:
            d_o = sum(b0[q] for q in d_both)
            d_n = sum(
                new[q] / (d_pynorm if (d_pynorm is not None and q in d_tags)
                          else d_norm)
                for q in d_both
            )
            print(
                f"cumulative drift vs {drift_since}: {len(d_both)} common "
                f"queries {d_o:.2f}s -> {d_n:.2f}s normalized "
                f"({d_n / d_o:.2f}x; {d_why})"
            )
        else:
            print(f"cumulative drift vs {drift_since}: no common queries")
    regressed = [q for r, q, a, b in flagged if r > 1 and a > 0 and b > 0]
    # kernel slowdowns enter the same gate under a "kernel:" prefix —
    # they ride verify_all's two-run intersection adjudication like
    # queries, so a reproduced kernel regression fails the gate while a
    # one-off wobble is discarded as noise
    regressed += [f"kernel:{op}" for op in regressed_kernels]
    if json_flags:
        # machine-readable verdict for verify_all's two-run intersection
        # adjudication (a single session's flags are noise-prone; only a
        # flag reproduced by an independent bench run is a regression)
        with open(json_flags, "w") as f:
            json.dump({"regressed": regressed}, f)
    if fail_on_regression:
        # gate mode: a CONFIRMED regression — the
        # normalized new median is >ratio slower AND outside the old
        # sample band (in-band deltas were already suppressed above) —
        # fails the run. Speedups and zero-artifact anomalies stay
        # informational; they are triage items, not regressions.
        if regressed:
            sys.exit(
                f"REGRESSION GATE: {len(regressed)} queries confirmed "
                f">{ratio}x slower after normalization: {', '.join(regressed)}"
            )
        print(f"regression gate: clean (0 confirmed >{ratio}x slowdowns)")


if __name__ == "__main__":
    main()
