"""Driver-contract guards: the invariants the correctness gate depends on."""

from __future__ import annotations

import importlib.util
import os

import __spark_entry__ as entrymod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ROWS_ONLY_ALLOWED = _load(
    "oracle_check", os.path.join(_ROOT, "tools", "oracle_check.py")
).ROWS_ONLY_ALLOWED


def test_every_query_is_oracled_or_documented_rows_only():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = set(qs) - set(oracles)
    assert missing <= ROWS_ONLY_ALLOWED, f"undocumented rows-only queries: {missing - ROWS_ONLY_ALLOWED}"
    assert set(oracles) <= set(qs), "oracle without a query"


def test_query_names_are_stable_identifiers():
    for name in entrymod.queries():
        assert name.replace("_", "").isalnum() and name == name.lower()


def test_entry_runs_and_is_stable(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) == 20  # hermetic fixture world is fixed-size
    assert out.columns == ["package", "version", "dependencies", "devDependencies"]


def test_bench_headline_names_resolve_and_are_unique():
    """Every bench.py HEADLINE entry must be a registered query (a typo'd
    or renamed entry would crash the driver's per-round bench run), with
    no duplicates, the flagship present, and the compact-line constants
    sane (budget below the measured ~2000-char capture tail)."""
    bench = _load("bench_mod_contract", os.path.join(_ROOT, "bench.py"))
    qs = set(entrymod.queries())
    unknown = [n for n in bench.HEADLINE if n not in qs]
    assert not unknown, f"HEADLINE names not registered: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert bench.FLAGSHIP in bench.HEADLINE
    assert bench.LINE_BUDGET < 2000
