"""Oracle parity: run every ``queries()[name]`` via Spark and the matching
``oracle_sql()[name]`` via DuckDB on the same parquet tables, then compare
row count, column names and the full sorted value multiset (exact value
match). ``tests/test_oracle_parity.py`` runs the same comparison over
every query at sf0.001 as part of the pytest suite; this script runs it at
any scale factor.

Usage: python tools/oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Queries with no SQL oracle, checked rows-only: sketch estimates are
# algorithm-specific, k-means is iterative (both have oracle-green twins),
# PCA needs an eigendecomposition SQL cannot express (its covariance twin
# is oracle-green; the spectral invariants are asserted in pytest).
ROWS_ONLY_ALLOWED = {"approx_sketches", "kmeans_clusters", "embedding_pca_project"}


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    if isinstance(v, Decimal):
        return ("d", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):  # date/datetime
        return ("t", v.isoformat().replace("+00:00", ""))
    return v


def compare(name, spark_df, sql, con) -> list[str]:
    """Print an OK/FAIL line for ``name`` and return its mismatches
    (empty when Spark and the oracle agree)."""
    srows = spark_df.collect()
    scols = sorted(spark_df.columns)
    got = sorted((tuple(norm(r[c]) for c in scols) for r in srows), key=repr)
    orc = con.sql(sql)
    ocols_raw = orc.columns
    ocols = sorted(ocols_raw)
    idx = [ocols_raw.index(c) for c in ocols]
    want = sorted((tuple(norm(row[i]) for i in idx) for row in orc.fetchall()), key=repr)
    status = []
    if scols != ocols:
        status.append(f"SCHEMA spark={scols} oracle={ocols}")
    if len(got) != len(want):
        status.append(f"ROWS spark={len(got)} oracle={len(want)}")
    if not status and got != want:
        for i, (g, w) in enumerate(zip(got, want)):
            if g != w:
                status.append(f"VALUES first diff at sorted row {i}:\n  spark : {g}\n  oracle: {w}")
                break
    print(f"{'OK  ' if not status else 'FAIL'} {name} ({len(got)} rows)")
    for s in status:
        print(f"     {s}")
    return status


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    import __spark_entry__ as e
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = open_oracle(sf_dir)

    qs, os_ = e.queries(), e.oracle_sql()
    ok = bad = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in os_:
            n = fn(spark, sf_dir).count()
            if name in ROWS_ONLY_ALLOWED and n:
                print(f"SKIP {name} (rows-only: no oracle, {n} rows)")
                skipped += 1
            else:
                print(f"FAIL {name} (no oracle: needs a documented exemption and rows, got {n})")
                bad += 1
            continue
        try:
            if compare(name, fn(spark, sf_dir), os_[name], con):
                bad += 1
            else:
                ok += 1
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name} exception: {ex}")
            bad += 1
    print(f"\n{ok} ok, {bad} fail, {skipped} rows-only")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
