"""Regression gate on two ``bench.py`` artifacts (BENCH_FULL.json).

    python tools/bench_compare.py OLD.json NEW.json

Compares each query's Spark jobs and stages per run (the ``profiles``
that ``observability.job_profile`` folds around every timed run). Exits
non-zero, naming every cause, when a query's jobs or stages rise, when a
query of OLD has no profile in NEW, or when the two artifacts were
recorded at a different scale factor (``sf``), ``cpus`` or
``shuffle_partitions``: AQE plans by data size and sizes and coalesces
shuffles by the other two, so counts compare only at equal settings.
Falling counts and new queries are printed and pass.

Counts do not depend on the host, so any host can compare against a
committed artifact recorded at the same settings. Wall time does depend
on it; compare it with ``tools/ab.py`` over ``tools/query_arm.py`` in
one session instead.
"""

from __future__ import annotations

import json
import sys

GATED = ("jobs", "stages")
SETTINGS = ("sf", "cpus", "shuffle_partitions")


def compare(old: dict, new: dict) -> tuple[list[str], list[str]]:
    """(failures, notes) of NEW against OLD; the gate passes when there
    are no failures."""
    failures, notes = [], []
    for key in SETTINGS:
        if old.get(key) != new.get(key):
            failures.append(f"{key} differs: {old.get(key)} -> {new.get(key)}; record both artifacts at the same {key}")
    old_p, new_p = old.get("profiles") or {}, new.get("profiles") or {}
    for side, prof in (("OLD", old_p), ("NEW", new_p)):
        if not prof:
            failures.append(f"{side} artifact carries no query profiles")
    for q in sorted(old_p):
        if q not in new_p:
            failures.append(f"{q}: missing from NEW")
            continue
        for key in GATED:
            a, b = old_p[q][key], new_p[q][key]
            if a != b:
                (failures if b > a else notes).append(f"{q}: {key} {a} -> {b}")
    notes += [f"{q}: new query" for q in sorted(set(new_p) - set(old_p))]
    return failures, notes


def _read(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        sys.exit(__doc__)
    old, new = (_read(path) for path in argv)
    failures, notes = compare(old, new)
    for line in notes:
        print(line)
    for line in failures:
        print(f"FAIL {line}")
    n = len(set(old.get("profiles") or {}) & set(new.get("profiles") or {}))
    print(f"job/stage gate: {n} common queries, {len(failures)} failures, {len(notes)} notes")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
