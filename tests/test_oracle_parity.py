"""Oracle parity for every registered query: ``queries()[name]`` runs on
the sf0.001 test tables and must equal ``oracle_sql()[name]`` run by
DuckDB over the same parquet files, value for value, through
tools/oracle_check.py's comparison. A documented rows-only query (no SQL
oracle) must return at least one row."""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entrymod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "oracle_check", os.path.join(_ROOT, "tools", "oracle_check.py")
)
oc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oc)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oc.open_oracle(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    if name not in ORACLES:
        assert name in oc.ROWS_ONLY_ALLOWED, f"{name} has no oracle and no documented exemption"
        assert df.count() >= 1, f"rows-only query {name} returned no rows"
        return
    problems = oc.compare(name, df, ORACLES[name], con)
    assert not problems, "\n".join(problems)
