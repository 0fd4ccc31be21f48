"""Skew-aware join-strategy advisor: the pre-flight a 100 TB join wants,
unifying the decision that ``relational.key_skew_profile`` and
``relational.salted_join`` document manually. It is its own module
because it is a planning layer over the relational operators, which it
imports; they do not depend on it.

The reference has no planner at all (178-line single pipeline,
src/main/scala/Main.scala).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import Registry

REG = Registry()

# join edges of the test-schema's star graph: (fact, fact_key, dim, dim_key).
# The advisor profiles each edge; the list is data, so adding an edge is a
# one-line change mirrored in the rendered oracle below.
_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]

# decision constants. BROADCAST bytes mirrors Spark's default
# spark.sql.autoBroadcastJoinThreshold (10 MiB); the skew factor mirrors
# AQE's spark.sql.adaptive.skewJoin.skewedPartitionFactor default (5).
_BROADCAST_BYTES = 10 * 1024 * 1024
_SKEW_FACTOR = 5
_SCALE_FACTOR = 1000  # the "would this survive 1000x" question


def _bytes_sql(cols: list[tuple[str, str]]) -> str:
    """Rendered per-row byte estimate, identical semantics both engines:
    strings cost length(col) (test data is ASCII, so char==octet), every
    other column a flat 8 bytes."""
    return " + ".join(
        f"length({name})" if typ == "string" else "8" for name, typ in cols
    )


# dim-table schemas baked into the rendered oracle (and asserted against
# the live parquet schema on the Spark side, so drift fails loudly).
_DIM_COLS = {
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int"), ("p_retailprice", "double")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
}


def _salts_sql(ceil_skew: str) -> str:
    return (f"CASE WHEN {ceil_skew} <= 1 THEN 1 WHEN {ceil_skew} <= 2 THEN 2 "
            f"WHEN {ceil_skew} <= 4 THEN 4 WHEN {ceil_skew} <= 8 THEN 8 "
            f"WHEN {ceil_skew} <= 16 THEN 16 ELSE 32 END")


def _edge_sql(fact: str, fkey: str, dim: str, dkey: str) -> str:
    bytes_expr = _bytes_sql(_DIM_COLS[dim])
    b, s, x = _BROADCAST_BYTES, _SKEW_FACTOR, _SCALE_FACTOR
    salts = _salts_sql("ceil_skew")
    return f"""
    SELECT '{fact}' AS fact_table, '{dim}' AS dim_table, '{fkey}' AS join_key,
           dim_rows, dim_bytes_est, n_keys, max_cnt, ceil_skew,
           CASE WHEN dim_bytes_est <= {b} THEN 'broadcast'
                WHEN ceil_skew >= {s} THEN 'salted'
                ELSE 'shuffle' END AS strategy,
           CASE WHEN dim_bytes_est * {x} <= {b} THEN 'broadcast'
                WHEN ceil_skew >= {s} THEN 'salted'
                ELSE 'shuffle' END AS strategy_1000x,
           CASE WHEN dim_bytes_est * {x} <= {b} THEN 1
                WHEN ceil_skew >= {s} THEN {salts}
                ELSE 1 END AS n_salts_1000x
    FROM (SELECT CAST(count(*) AS BIGINT) AS dim_rows,
                 CAST(sum({bytes_expr}) AS BIGINT) AS dim_bytes_est
          FROM {dim}) d
    CROSS JOIN
         (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(cnt) AS BIGINT) AS max_cnt,
                 CAST((max(cnt) * count(*) + sum(cnt) - 1) // sum(cnt) AS BIGINT)
                     AS ceil_skew
          FROM (SELECT {fkey}, count(*) AS cnt FROM {fact} GROUP BY 1) k) f
    """


@REG.add(
    "join_strategy_advisor",
    "\nUNION ALL\n".join(_edge_sql(*edge) for edge in _EDGES),
)
def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every join edge of the schema's star graph, compute the two
    facts that pick a physical join — the dim side's estimated broadcast
    size (strings cost their length, fixed-width columns 8 bytes) and the
    fact side's per-key skew (integer-exact ceil(max_cnt / mean_cnt), no
    float thresholds so both engines agree bit-for-bit) — and emit the
    strategy at the data's own scale AND at 1000x (the 100 TB question
    the round brief asks of every plan): 'broadcast' when the scaled dim
    still fits Spark's default autoBroadcastJoinThreshold (10 MiB), else
    'salted' with a power-of-two salt count (capped 32, the
    ``relational.salted_join`` parameter) when ceil-skew reaches AQE's
    skewedPartitionFactor default (5), else plain 'shuffle'. Dims scale
    with the fact at 1000x by design: the advisor answers for a
    uniformly scaled world, the conservative assumption when fact growth
    drags reference data with it.

    Scale shape: per edge, one column-pruned dim scan reduced to a 1-row
    aggregate and one column-pruned fact scan reduced through a per-key
    partial agg to a 1-row profile — O(edges) rows ever cross a shuffle
    boundary, nothing collects. The same plan runs unchanged on a real
    cluster."""
    edges = []
    for fact, fkey, dim, dkey in _EDGES:
        d = load_table(spark, sf_dir, dim)
        expected = [c for c, _ in _DIM_COLS[dim]]
        if d.columns != expected:  # loud drift guard, see _DIM_COLS
            raise AssertionError(f"{dim} schema drift: {d.columns}")
        bytes_row = None
        for name, typ in _DIM_COLS[dim]:
            term = F.length(F.col(name)) if typ == "string" else F.lit(8)
            bytes_row = term if bytes_row is None else bytes_row + term
        dstats = d.agg(
            F.count("*").cast("long").alias("dim_rows"),
            F.sum(bytes_row).cast("long").alias("dim_bytes_est"),
        )
        k = (
            load_table(spark, sf_dir, fact)
            .groupBy(fkey)
            .agg(F.count("*").alias("cnt"))
        )
        fstats = k.agg(
            F.count("*").cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.floor(
                (F.max("cnt") * F.count("*") + F.sum("cnt") - F.lit(1))
                / F.sum("cnt")
            ).cast("long").alias("ceil_skew"),
        )
        cs = F.col("ceil_skew")
        salts = (
            F.when(cs <= 1, 1).when(cs <= 2, 2).when(cs <= 4, 4)
            .when(cs <= 8, 8).when(cs <= 16, 16).otherwise(32)
        )
        scaled = F.col("dim_bytes_est") * _SCALE_FACTOR
        is_skewed = cs >= _SKEW_FACTOR
        edges.append(
            dstats.join(F.broadcast(fstats)).select(
                F.lit(fact).alias("fact_table"),
                F.lit(dim).alias("dim_table"),
                F.lit(fkey).alias("join_key"),
                "dim_rows", "dim_bytes_est", "n_keys", "max_cnt", "ceil_skew",
                F.when(F.col("dim_bytes_est") <= _BROADCAST_BYTES, "broadcast")
                .when(is_skewed, "salted")
                .otherwise("shuffle").alias("strategy"),
                F.when(scaled <= _BROADCAST_BYTES, "broadcast")
                .when(is_skewed, "salted")
                .otherwise("shuffle").alias("strategy_1000x"),
                F.when(scaled <= _BROADCAST_BYTES, F.lit(1))
                .when(is_skewed, salts)
                .otherwise(F.lit(1)).cast("int").alias("n_salts_1000x"),
            )
        )
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out


class JoinPlan:
    """The advisor's decision for one concrete join, with the stats it
    was derived from — returned by ``plan_join`` so callers can log or
    override before executing."""

    __slots__ = ("strategy", "n_salts", "dim_rows", "dim_bytes_est",
                 "n_keys", "max_cnt", "ceil_skew")

    def __init__(self, strategy, n_salts, dim_rows, dim_bytes_est,
                 n_keys, max_cnt, ceil_skew):
        self.strategy = strategy
        self.n_salts = n_salts
        self.dim_rows = dim_rows
        self.dim_bytes_est = dim_bytes_est
        self.n_keys = n_keys
        self.max_cnt = max_cnt
        self.ceil_skew = ceil_skew

    def __repr__(self):  # shows up in logs / notebooks
        return (f"JoinPlan({self.strategy!r}, n_salts={self.n_salts}, "
                f"dim_rows={self.dim_rows}, dim_bytes_est={self.dim_bytes_est}, "
                f"ceil_skew={self.ceil_skew})")


def _dim_bytes_expr(dim: DataFrame):
    """Same per-row byte estimate the advisor query renders, derived from
    the live schema instead of the baked table list: strings cost their
    length, everything else 8 bytes."""
    expr = None
    for f in dim.schema.fields:
        term = (
            F.coalesce(F.length(F.col(f.name)), F.lit(0))
            if f.dataType.typeName() == "string" else F.lit(8)
        )
        expr = term if expr is None else expr + term
    return expr


def plan_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
    broadcast_bytes: int = _BROADCAST_BYTES, skew_factor: int = _SKEW_FACTOR,
) -> JoinPlan:
    """Profile one concrete join the way ``join_strategy_advisor``
    profiles the schema's edges — two 1-row control-plane reductions
    (dim size estimate; fact per-key integer ceil-skew) — and return the
    decision. The two profiling jobs are the price of the pre-flight;
    at 100 TB they are column-pruned scans reduced map-side, and the
    answer (broadcast vs salted vs shuffle) moves whole orders of
    magnitude of shuffle I/O, which is why production planners (AQE
    included) spend exactly this kind of statistics pass."""
    drow = dim.agg(
        F.count("*").cast("long").alias("rows"),
        F.sum(_dim_bytes_expr(dim)).cast("long").alias("bytes"),
    ).first()
    frow = (
        fact.groupBy(fact_key).agg(F.count("*").alias("cnt"))
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.floor(
                (F.max("cnt") * F.count("*") + F.sum("cnt") - F.lit(1))
                / F.sum("cnt")
            ).cast("long").alias("ceil_skew"),
        ).first()
    )
    dim_bytes = int(drow.bytes or 0)
    ceil_skew = int(frow.ceil_skew or 1)
    if dim_bytes <= broadcast_bytes:
        strategy, n_salts = "broadcast", 1
    elif ceil_skew >= skew_factor:
        strategy = "salted"
        n_salts = 2
        while n_salts < min(ceil_skew, 32):
            n_salts *= 2
    else:
        strategy, n_salts = "shuffle", 1
    return JoinPlan(strategy, n_salts, int(drow.rows), dim_bytes,
                    int(frow.n_keys), int(frow.max_cnt), ceil_skew)


def advised_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
    how: str = "inner",
    broadcast_bytes: int = _BROADCAST_BYTES, skew_factor: int = _SKEW_FACTOR,
) -> DataFrame:
    """Close the profile -> plan -> execute loop: run ``plan_join`` and
    dispatch the equi-join through the chosen physical strategy —
    ``F.broadcast`` hint, ``relational.salted_join`` with the planned
    power-of-two salt count, or the plain shuffle join. Value-identical
    across all three paths (the dispatch-equivalence test forces each
    with threshold overrides and compares results); only the physical
    distribution differs. The dim side is renamed to the fact key, so
    the result carries one join column under ``fact_key`` — the
    ``skew_salted_join`` convention."""
    from .relational import salted_join

    d = dim.withColumnRenamed(dim_key, fact_key) if dim_key != fact_key else dim
    plan = plan_join(fact, d, fact_key, fact_key,
                     broadcast_bytes=broadcast_bytes, skew_factor=skew_factor)
    if plan.strategy == "broadcast":
        return fact.join(F.broadcast(d), fact_key, how)
    if plan.strategy == "salted":
        return salted_join(fact, d, fact_key, n_salts=plan.n_salts, how=how)
    return fact.join(d, fact_key, how)
