"""Deduplication operators over the ``documents`` table — the core
training-data-pipeline surface: exact (hash-groupBy), MinHash+LSH,
SimHash, and character-n-gram Jaccard near-dup.

Scale design (100 TB):
- exact dedup groups on sha256(text) — the shuffle key is 32 bytes, not the
  document body; at scale add a length pre-key to short-circuit comparisons;
- MinHash-LSH is the classic shingle -> minhash signature -> band ->
  bucket-equi-join pipeline: candidate generation is an equi-join on band
  keys (shuffle on a small key), never an all-pairs cross join; the
  verification jaccard only runs on candidates;
- SimHash pairs block on a 7-way pigeonhole partition of the fingerprint
  (any pair at hamming <= 6 shares a clean block), so recall is guaranteed
  and candidates co-locate in one equi-join shuffle;
- all hashing is md5-hex (identical in Spark and DuckDB — see
  functions/text.py), and jaccard is a ratio of integers, so every operator
  here is exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    base_hashes,
    char_shingles,
    minhash_affine,
    sql_base_hashes,
    sql_char_shingles,
    sql_minhash_affine,
    sql_word_shingles,
    word_shingles,
)
from ..session import ckpt, load_scaled, load_table
from .registry import Registry

REG = Registry()

N_HASHES = 12
N_BANDS = 4  # 4 bands x 3 rows; P(candidate) = 1-(1-j^3)^4 — ~0.98 at j=0.8
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.7


@REG.add(
    "dedup_exact_hash",
    """
    SELECT sha256(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text, keeping the
    smallest doc_id. The group key is the 64-hex sha256, so the shuffle
    moves 64 bytes per row, not the document."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


@REG.add(
    "dedup_exact_summary",
    """
    SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
           count(*) - count(DISTINCT text) AS n_dropped
    FROM documents GROUP BY lang
    """,
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report per language partition."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
        (F.count("*") - F.countDistinct("text")).alias("n_dropped"),
    )


def _signatures(docs: DataFrame) -> DataFrame:
    """doc_id + minhash signature columns mh0..mhN over 3-word shingles.
    One md5 per shingle (the base hash); the N signature hashes are affine
    transforms of it — N x cheaper than N independent md5 passes."""
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("sh")).withColumn(
        "bases", base_hashes(F.col("sh"))
    )
    return sh.select(
        "doc_id", "sh", *[minhash_affine(F.col("bases"), h).alias(f"mh{h}") for h in range(N_HASHES)]
    )


def _sql_signature_cte() -> str:
    mh = ", ".join(f"{sql_minhash_affine('bases', h)} AS mh{h}" for h in range(N_HASHES))
    return f"""
    sig AS (
      SELECT doc_id, sh, {mh}
      FROM (SELECT doc_id, sh, {sql_base_hashes('sh')} AS bases
            FROM (SELECT doc_id, {sql_word_shingles('text')} AS sh FROM documents))
    )"""


@REG.add(
    "minhash_signatures",
    f"""
    WITH {_sql_signature_cte()}
    SELECT doc_id, {", ".join(f"mh{h}" for h in range(N_HASHES))} FROM sig
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (12 affine minhashes over distinct
    3-word shingles)."""
    return _signatures(load_scaled(spark, sf_dir, "documents")).drop("sh", "bases")


def _band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, b, bkey) band-key frame: each signature explodes to
    N_BANDS keys of ROWS_PER_BAND concatenated minhashes."""
    band_key = [
        F.concat_ws("|", *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)])
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.posexplode(F.array(*band_key)).alias("b", "bkey"))


def _verify_jaccard(
    cand: DataFrame, sig_a: DataFrame, sig_b: DataFrame,
    set_col: str, threshold: float,
) -> DataFrame:
    """Exact jaccard over candidate (doc_a, doc_b) pairs: doc_a probes
    ``sig_a`` and doc_b probes ``sig_b`` for ``set_col``. The self-join
    queries pass one signature frame twice; the streaming dedup gate
    passes the batch's signatures and the stored corpus's, so a replayed
    batch's orphan band rows cannot self-match (see
    ``streaming.pipeline.write_dedup_gated``)."""
    inter = F.size(F.array_intersect(F.col(f"sa.{set_col}"), F.col(f"sb.{set_col}")))
    union = F.size(F.col(f"sa.{set_col}")) + F.size(F.col(f"sb.{set_col}")) - inter
    return (
        cand.join(
            sig_a.select("doc_id", set_col).alias("sa"),
            F.col("doc_a") == F.col("sa.doc_id"),
        )
        .join(
            sig_b.select("doc_id", set_col).alias("sb"),
            F.col("doc_b") == F.col("sb.doc_id"),
        )
        .select("doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _banded_pairs(
    sig: DataFrame, set_col: str, threshold: float, pin_partitions: int | None = None
) -> DataFrame:
    """The banded-LSH pair pipeline shared by the word-shingle and
    char-gram variants (review fix: two hand-kept copies diverge
    silently): sig(doc_id, <set_col>, mh0..mhN-1) -> band keys ->
    bucket equi-join candidates (doc-id-only rows on the shuffle) ->
    exact jaccard verify over two signature-frame probes of
    ``set_col`` -> multi-band dedup on the (tiny) verified pair set.

    The dedup runs AFTER the verify, not before (round-16 optimization,
    guide §2.4 "a distinct on data that is already unique"): measured at
    sf0.1 the raw candidate stream is only ~2% duplicated (chargram:
    649k raw vs 634k distinct — a pair must collide on several
    independent 3-minhash bands to duplicate at all), so the pre-verify
    DISTINCT paid a full exchange + hash-agg of the whole candidate set
    to save ~2% of the verify work (measured: 3.6 s -> 2.4 s for the
    chargram verify leg). A duplicated candidate verifies to the
    IDENTICAL row (jaccard is a pure function of the two sets), so the
    post-verify dropDuplicates returns the exact same pair multiset.
    Trade recorded: on a corpus where most near-dup pairs agree on all
    N_BANDS bands the duplication factor approaches N_BANDS and the
    pre-verify distinct wins again — that corpus shape shows up as a
    high verified-pairs/candidates ratio, the cheap thing to monitor.
    ``pin_partitions`` repartitions candidates on doc_a so the verify
    stage runs wide — AQE's byte-based coalesce is blind to the per-row
    intersect cost behind the tiny candidate frame."""
    bands = _band_frame(sig)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["b", "bkey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    if pin_partitions:
        cand = cand.repartition(pin_partitions, "doc_a")
    # Named CollectMetrics on the raw candidate stream (round 17, wiring
    # the regression signal the dedup-late trade above names): the raw
    # candidate count rides the query's own execution — no extra job —
    # and lands in QueryExecution.observedMetrics (SQL-tab visible), so
    # verified-pairs/candidates is one division away for any caller or
    # monitor. Pinned by tests/test_llm_ops.py.
    cand = cand.observe("lsh_raw_candidates", F.count(F.lit(1)).alias("n"))
    return _verify_jaccard(cand, sig, sig, set_col, threshold).dropDuplicates(
        ["doc_a", "doc_b"]
    )


def _sql_band_case() -> str:
    """The band-key CASE expression shared by every banded-LSH oracle."""
    return " ".join(
        f"WHEN {b} THEN "
        + " || '|' || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        for b in range(N_BANDS)
    )


def _sql_banded_ctes(prefix: str, sig: str, set_col: str, threshold: float) -> str:
    """DuckDB twin of ``_banded_pairs``: {prefix}bands -> {prefix}cand ->
    {prefix}pairs over an existing ``sig`` CTE."""
    case = _sql_band_case()
    ix = f"list_intersect(sa.{set_col}, sb.{set_col})"
    jac = f"len({ix})::DOUBLE / (len(sa.{set_col}) + len(sb.{set_col}) - len({ix}))"
    return f"""
    {prefix}bands AS (
      SELECT doc_id, b, CASE b {case} END AS bkey
      FROM {sig} CROSS JOIN (SELECT unnest(range({N_BANDS})) AS b)
    ),
    {prefix}cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {prefix}bands a JOIN {prefix}bands b
        ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    {prefix}pairs AS (
      SELECT c.doc_a, c.doc_b, {jac} AS jaccard
      FROM {prefix}cand c JOIN {sig} sa ON sa.doc_id = c.doc_a
                          JOIN {sig} sb ON sb.doc_id = c.doc_b
      WHERE {jac} >= {threshold}
    )"""


def _sql_lsh_ctes() -> str:
    """Signature -> band -> candidate -> verified-pair CTE chain, shared by
    the pair query and the cluster query's oracle."""
    return f"""{_sql_signature_cte()},
    {_sql_banded_ctes("lsh", "sig", "sh", JACCARD_THRESHOLD)}"""


@REG.add(
    "minhash_lsh_neardup",
    f"""
    WITH {_sql_lsh_ctes()}
    SELECT doc_a, doc_b, jaccard FROM lshpairs
    """,
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH: signature -> band keys ->
    bucket equi-join for candidates -> exact shingle-jaccard verification.
    The only join is on band keys; true jaccard runs on candidates only.
    The signature frame feeds four plan branches (both self-join sides,
    both verification probes), so it is persisted — the in-memory stand-in
    for the signature TABLE a 100 TB pipeline would materialize once and
    reuse across every dedup pass. The verified pair set (small: doc-id
    pairs + a double) is materialized via localCheckpoint and the
    signature cache is released immediately — no persisted frame outlives
    the query (round-3 verdict #7; asserted by
    tests/test_llm_ops.py::test_lsh_queries_release_their_caches)."""
    sig = _signatures(load_scaled(spark, sf_dir, "documents")).persist()
    pairs = _banded_pairs(sig, "sh", JACCARD_THRESHOLD).transform(ckpt)
    sig.unpersist()
    return pairs


@REG.add(
    "neardup_clusters",
    f"""
    WITH RECURSIVE {_sql_lsh_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lshpairs
      UNION ALL
      SELECT doc_b, doc_a FROM lshpairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(r) AS cluster_id, id = min(r) AS is_keeper
    FROM reach GROUP BY id
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph, so transitively-linked duplicates collapse to one keeper
    (the minimum doc_id in the component) — the dedup end-game a pair list
    alone doesn't give you.

    Components come from alternating large-star/small-star rounds
    (``cc_alternating_star``) — O(log^2 n) worst-case rounds, so a 100 TB
    dedup run with adversarial chain-shaped components terminates in
    bounded rounds where plain min-label propagation needs O(diameter)
    (the round-3 implementation capped at 20 rounds and would have
    returned silently-unconverged labels on a longer chain). The DuckDB
    oracle computes the same components with a recursive CTE."""
    pairs = minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = cc_alternating_star(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("is_keeper"),
    )


# Edge-count gate for the driver-side union-find fast path in
# cc_alternating_star: below this, the whole verified pair graph is a
# control-plane-sized object (100k edges = ~1.6 MB of longs) and the
# O(log^2 n) distributed rounds are pure scheduling overhead. The gate is
# on the VERIFIED near-dup pair count — already orders of magnitude
# smaller than the corpus — never on corpus size, so the distributed path
# engages exactly when the graph itself is big.
CC_DRIVER_MAX_EDGES = 100_000


def cc_alternating_star(
    pairs: DataFrame, max_rounds: int = 64, driver_max_edges: int = CC_DRIVER_MAX_EDGES
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Input: undirected (doc_a, doc_b) pairs. Output: ((id, lbl)
    with lbl = component minimum for every node in the pair graph,
    n_rounds run).

    One round = large-star then small-star over the edge set E:
    - large-star: per node u over the symmetric adjacency, every STRICTLY
      LARGER neighbor reconnects to m = min(N(u) + {u});
    - small-star: every smaller-or-equal neighbor (and u itself)
      reconnects to m = min(N<=(u) + {u}).
    Both preserve connectivity; their fixed point is the star graph whose
    centers are the component minima, reached in O(log^2 n) rounds
    worst-case (typically 2-4 on near-dup cliques).

    Execution shape per round: two groupBy-min aggs + two equi-joins on
    node ids — partial-aggregatable, uniformly-keyed shuffles; no
    all-pairs step anywhere. The edge frame is localCheckpoint-ed every
    round, which (a) truncates lineage — without it round r's plan
    re-derives rounds 1..r-1 on every action, the classic iterative-
    DataFrame trap — and (b) doubles as the materializing action the
    convergence test needs; the previous round's checkpoint becomes
    unreferenced when ``cur`` rebinds and the ContextCleaner reclaims it,
    so only O(1) (small) edge frames stay pinned. Convergence =
    small-star output identical to the previous round's (count equality +
    empty exceptAll — both distinct frames).

    Small-graph fast path (round-16, guide §8 "decide with small rows"):
    the deduped edge set is materialized once and counted; at or below
    ``driver_max_edges`` it is collected (a BOUNDED read — the gate caps
    it at ~1.6 MB of longs) and resolved with a serial union-find,
    labels = the identical component minima, returned as a tiny
    (id, lbl) frame with rounds = 0. A verified near-dup pair graph is
    usually this small even when the corpus is not (the LSH threshold
    keeps it sparse); when it is not, the distributed alternating-star
    rounds below run unchanged. Both paths are property-tested equal
    against the same serial reference (tests/test_properties.py).
    Measured sf0.1 (256-edge graph): the distributed rounds cost 3.7 s
    of tiny-job scheduling; the fast path ~0.4 s — overhead that
    repeated in every CC consumer (neardup_clusters,
    fuzzy_dedup_keep_one, corpus_pipeline_verdicts)."""
    from pyspark.sql import Observation

    # the edge count rides the checkpoint's own materializing action as a
    # CollectMetrics observation (round 17, the kmeans-inertia idiom) —
    # the previous standalone edges.count() was a whole extra Spark job
    # per CC call just to read a number the checkpoint job already knew
    n_obs = Observation("cc_n_edges")
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .transform(ckpt)
    )
    from .. import session as _sess

    if not _sess.CHECKPOINT_ENABLED:
        # plan-capture mode: ckpt degraded to a LAZY persist, so nothing
        # has materialized yet and the observation would block forever —
        # fire it with the count the production path gets for free
        edges.count()
    if int(n_obs.get["n"]) <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges.collect():
            parent[find(int(r["u"]))] = find(int(r["v"]))
        comp_min: dict[int, int] = {}
        for n in parent:
            root = find(n)
            comp_min[root] = min(comp_min.get(root, n), n)
        # label schema derived from the INPUT pair column type (round-17
        # ADVICE fix: the hard-coded 'id long, lbl long' silently diverged
        # from the distributed path, which inherits the caller's types —
        # identical for every current caller, a latent trap for any other)
        id_t = pairs.schema[0].dataType.simpleString()
        labels = pairs.sparkSession.createDataFrame(
            sorted((n, comp_min[find(n)]) for n in parent),
            f"id {id_t}, lbl {id_t}",
        )
        return labels, 0
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
        .transform(ckpt)
    )
    cur = edges
    rounds = 0
    for _ in range(max_rounds):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least("u", "mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        sym2 = large.union(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        le = sym2.filter(F.col("v") <= F.col("u"))
        smin = le.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            le.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(smin.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new = small.transform(ckpt)
        rounds += 1
        converged = new.count() == cur.count() and cur.exceptAll(new).isEmpty()
        cur = new
        if converged:
            break
    else:
        raise RuntimeError(f"cc_alternating_star: no fixed point in {max_rounds} rounds")
    roots = cur.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("lbl"))
    labels = nodes.join(roots, "id", "left").select(
        "id", F.coalesce("lbl", F.col("id")).alias("lbl")
    )
    return labels, rounds


_SIMHASH_BITS = 64
# 64-bit SimHash from the first 16 hex digits of md5(token): bit b of the
# fingerprint = sign of the sum over distinct tokens of (+1 if bit (b % 4)
# of hex digit (b // 4) is set, else -1). Emitted as two unsigned 32-bit
# halves (simhash_hi = bits 32..63, simhash_lo = bits 0..31) stored in
# BIGINT — no sign-bit arithmetic on either engine, and the hi half IS the
# 32-bit blocking key the candidate join needs.

# Spark-side: one pure column expression per document — md5 once per token,
# a 64-wide +/-1 accumulator folded with aggregate/zip_with, then the two
# halves packed. NO shuffle and NO row blowup (the old form exploded
# tokens x bits: a 64x shuffle amplification this removes entirely).
_SPARK_SIMHASH = """
aggregate(
  transform(array_distinct(split(text, ' ')), t -> md5(t)),
  array_repeat(0, 64),
  (acc, h) -> zip_with(
      acc,
      transform(sequence(0, 63), b ->
        CASE WHEN (shiftright(
                     CAST(conv(substr(h, (b div 4) + 1, 1), 16, 10) AS INT),
                     b % 4) & 1) = 1
             THEN 1 ELSE -1 END),
      (a, c) -> a + c)
)
"""


def _sql_simhash() -> str:
    # DuckDB mirror keeps the legible explode form (oracle-side cost at
    # sf0.01 is irrelevant); strpos over the hex alphabet decodes a digit.
    return f"""
    toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), b // 4 + 1, 1)) - 1)
                            >> (b % 4)) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM toks CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b)
      GROUP BY doc_id, b
    ),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS simhash_hi,
             CAST(sum(CASE WHEN v > 0 AND b < 32  THEN (1::BIGINT << b)        ELSE 0 END) AS BIGINT) AS simhash_lo
      FROM bits GROUP BY doc_id
    )"""


@REG.add(
    "simhash_fingerprints",
    f"WITH {_sql_simhash()} SELECT doc_id, simhash_hi, simhash_lo FROM sim",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, computed entirely inside one projected
    expression (higher-order functions over the token array): md5 per
    distinct token, a 64-wide +/-1 vote accumulator via aggregate/zip_with,
    sign-packed into two 32-bit halves. Zero shuffles, zero row blowup —
    at 100 TB this is a map-only pass whose cost is the text scan itself."""
    d = load_scaled(spark, sf_dir, "documents")
    acc = F.expr(_SPARK_SIMHASH)
    pack = lambda lo_bit: F.expr(  # noqa: E731
        f"""aggregate(sequence({lo_bit}, {lo_bit + 31}), CAST(0 AS BIGINT),
            (s, b) -> s + IF(element_at(_acc, b + 1) > 0,
                             shiftleft(CAST(1 AS BIGINT), b - {lo_bit}),
                             CAST(0 AS BIGINT)))"""
    )
    return (
        d.select("doc_id", acc.alias("_acc"))
        .select("doc_id", pack(32).alias("simhash_hi"), pack(0).alias("simhash_lo"))
    )


HAMMING_MAX = 6
# Multi-block scheme (Manku/Jain/Sarma, "Detecting Near-Duplicates for Web
# Crawling", WWW'07 §3): partition the 64 bits into HAMMING_MAX + 1 = 7
# blocks. A pair at hamming <= 6 has <= 6 differing bits touching <= 6
# blocks, so by pigeonhole AT LEAST ONE block matches exactly -> blocking
# on (block_idx, block_value) equi-join has GUARANTEED recall, and the
# oracle below can be the pure semantic definition (no blocking at all).
_SIMHASH_BLOCK_BOUNDS = [0, 10, 19, 28, 37, 46, 55, 64]


def _simhash_block_exprs(shr: str, shl: str) -> list[str]:
    """Per-block extraction formulas over the (hi, lo) 32-bit halves —
    identical arithmetic in Spark SQL (shiftright/shiftleft) and DuckDB
    (>>/<<); both halves are non-negative so no sign-bit hazards."""
    out = []
    for s, e in zip(_SIMHASH_BLOCK_BOUNDS, _SIMHASH_BLOCK_BOUNDS[1:]):
        mask = (1 << (e - s)) - 1
        if e <= 32:
            out.append(f"({shr.format('simhash_lo', s)} & {mask})")
        elif s >= 32:
            out.append(f"({shr.format('simhash_hi', s - 32)} & {mask})")
        else:  # straddles bit 32: low bits from lo, high bits from hi
            out.append(
                f"(({shr.format('simhash_lo', s)} | {shl.format('simhash_hi', 32 - s)}) & {mask})"
            )
    return out


_SPARK_BLOCKS = _simhash_block_exprs("shiftright({0}, {1})", "shiftleft({0}, {1})")


@REG.add(
    "simhash_candidate_pairs",
    f"""
    WITH {_sql_simhash()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash_hi, b.simhash_hi))
             + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS hamming
    FROM sim a JOIN sim b
      ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
            + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {HAMMING_MAX}
    """,
)
def simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 6 over the full 64 bits.

    Pipeline (each step shaped for the fanout, not just the input bytes):

    1. fingerprint per doc (map-only), persisted — it is read three times
       below and at 100 TB a recompute is a full text scan, while the
       fingerprint frame is 24 bytes/doc;
    2. collapse to DISTINCT fingerprints before pairing — near-dup corpora
       concentrate docs onto few codes (sf0.1: 5000 docs -> 3866 codes,
       one code holds 249 docs), so candidate volume drops quadratically
       in every hot bucket;
    3. 7-block pigeonhole blocking (Manku WWW'07): each code explodes to 7
       (block_idx, block_value) keys; any pair at hamming <= HAMMING_MAX
       differs in <= 6 blocks so at least one block matches exactly ->
       equi-join recall is GUARANTEED, which is why the ORACLE can be the
       pure all-pairs definition. The join inputs are repartition()ed BY
       NUMBER on the join key: AQE sizes post-shuffle partitions by input
       bytes and would coalesce these tiny 4-int rows into ONE task, blind
       to the ~10^7-row join fanout (observed: a 260 s single-thread stage
       at sf0.1); a user-pinned count is exempt from AQE coalescing;
    4. exact hamming verifies code pairs, DISTINCT dedupes multi-block
       agreement while rows are still one-per-code-pair (small), and only
       then do two fingerprint equi-joins expand codes back to doc pairs —
       the expansion is output-bound, and needs no doc-level DISTINCT
       because each doc belongs to exactly one code. Same-code doc pairs
       (hamming 0) come from a separate within-group self-join.

    Scale note: 9-10-bit block values are weak keys alone; at 100 TB widen
    the fingerprint (128-bit simhash -> 7 x 18-bit blocks) or compound
    blocks Manku-style to regain selectivity — the pipeline shape
    (fingerprint -> distinct codes -> block equi-join -> hamming verify ->
    doc expansion) is unchanged."""
    sim = simhash_fingerprints(spark, sf_dir).persist()
    par = spark.sparkContext.defaultParallelism
    fp = sim.select("simhash_hi", "simhash_lo").distinct()
    blocks = fp.select(
        "simhash_hi",
        "simhash_lo",
        F.posexplode(F.array(*[F.expr(b) for b in _SPARK_BLOCKS])).alias(
            "blk_idx", "blk_val"
        ),
    ).repartition(par, "blk_idx", "blk_val")
    a = blocks.select(
        F.col("simhash_hi").alias("hi_a"),
        F.col("simhash_lo").alias("lo_a"),
        "blk_idx",
        "blk_val",
    )
    b = blocks.select(
        F.col("simhash_hi").alias("hi_b"),
        F.col("simhash_lo").alias("lo_b"),
        "blk_idx",
        "blk_val",
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    code_lt = (F.col("hi_a") < F.col("hi_b")) | (
        (F.col("hi_a") == F.col("hi_b")) & (F.col("lo_a") < F.col("lo_b"))
    )
    fp_pairs = (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(code_lt)
        .select("hi_a", "lo_a", "hi_b", "lo_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )
    da = sim.select(
        F.col("simhash_hi").alias("hi_a"),
        F.col("simhash_lo").alias("lo_a"),
        F.col("doc_id").alias("id_a"),
    )
    db = sim.select(
        F.col("simhash_hi").alias("hi_b"),
        F.col("simhash_lo").alias("lo_b"),
        F.col("doc_id").alias("id_b"),
    )
    cross = (
        fp_pairs.join(da, ["hi_a", "lo_a"])
        .join(db, ["hi_b", "lo_b"])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    within = (
        da.withColumnRenamed("hi_a", "hi").withColumnRenamed("lo_a", "lo")
        .join(
            db.withColumnRenamed("hi_b", "hi").withColumnRenamed("lo_b", "lo"),
            ["hi", "lo"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    # materialize the (small) pair set, then release the fingerprint cache
    # — no persisted frame outlives the query (round-3 verdict #7)
    out = cross.unionByName(within).transform(ckpt)
    sim.unpersist()
    return out


CHARGRAM_JACCARD = 0.6


def _sql_chargram_ctes() -> str:
    """Char-gram signature CTE + the shared banded chain (``_sql_banded_
    ctes``), mirroring the Spark plan block-for-block so the oracle stays
    lockstep."""
    mh = ", ".join(f"{sql_minhash_affine('bases', h)} AS mh{h}" for h in range(N_HASHES))
    return f"""
    csig AS (
      SELECT doc_id, list_distinct(bases) AS hb, {mh}
      FROM (SELECT doc_id, {sql_base_hashes('g')} AS bases
            FROM (SELECT doc_id, {sql_char_shingles('text')} AS g FROM documents))
    ),
    {_sql_banded_ctes("c", "csig", "hb", CHARGRAM_JACCARD)}"""


@REG.add(
    "chargram_jaccard_pairs",
    f"""
    WITH {_sql_chargram_ctes()}
    SELECT doc_a, doc_b, jaccard FROM cpairs
    """,
)
def chargram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard near-dup via banded MinHash-LSH (4 bands x
    3 rows, same family as ``minhash_lsh_neardup`` but over char grams).

    A single-minhash block key degenerates on templated corpora: the most
    common gram wins the min for most docs (sf0.1: one bucket held 3167 of
    5000 docs -> 5.0M of 5.2M candidate pairs, all ground through
    array_intersect in one task). Banding on 3 concatenated minhashes cuts
    candidates 8x (649k at sf0.1) because an unrelated pair must now
    collide on three independent hashes at once; pairs any band misses are
    below ~the threshold with high probability (P = 1-(1-j^3)^4). The band
    equi-join emits doc-id-only rows (grams never ride the candidate
    shuffle), DISTINCT dedupes multi-band hits, and jaccard verifies on
    two signature-frame probes over the HASHED shingle sets (32-bit
    md5-derived ints, identical in the DuckDB oracle) — int-array
    intersects shuffle ~4 bytes/gram instead of a 4-char string and skip
    all string compares in the verify stage (bench sf0.1: 7.8 s -> int
    path); collisions within a doc's ~1e3-gram set are ~1e-5 and shift
    jaccard identically on both engines. The signature frame feeds all
    four plan branches so it is persisted for the duration of the verify,
    then released after the pair set is localCheckpoint-materialized
    (round-3 verdict #7: no cached frame outlives its query)."""
    d = load_scaled(spark, sf_dir, "documents")
    # hb rides the verify joins as array<int>, not array<bigint>: every
    # base hash is < MINHASH_P = 2^31-1 so the narrowing is lossless
    # (guide §2.3 "narrower types"), and it halves the bytes the two
    # signature probes move per candidate (measured sf0.1: the verify
    # leg 3.6 s -> 2.4 s together with the post-verify dedup). The
    # DuckDB oracle keeps BIGINT lists — intersect SIZES are what the
    # output carries, and those are value-identical.
    sig = (
        d.select("doc_id", char_shingles(F.col("text")).alias("g"))
        .withColumn("bases", base_hashes(F.col("g")))
        .select(
            "doc_id",
            F.array_distinct(F.col("bases")).cast("array<int>").alias("hb"),
            *[minhash_affine(F.col("bases"), h).alias(f"mh{h}") for h in range(N_HASHES)],
        )
        .persist()
    )
    # Candidate rows are two ints, so AQE sizes the verify stage to a
    # handful of partitions — but each row costs an array_intersect over
    # ~200-gram sets. Pinning a full-parallelism repartition ON THE FIRST
    # VERIFY-JOIN KEY makes the sort-merge join reuse that exchange, so
    # the intersect work runs wide.
    pairs = _banded_pairs(
        sig, "hb", CHARGRAM_JACCARD, pin_partitions=spark.sparkContext.defaultParallelism
    ).transform(ckpt)
    sig.unpersist()
    return pairs


INCREMENTAL_DELTA_MOD = 10  # doc_id % 10 >= 8 -> the "newly arrived" batch


@REG.add(
    "dedup_incremental",
    f"""
    WITH {_sql_signature_cte()},
    corpus AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_DELTA_MOD} < 8),
    delta  AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_DELTA_MOD} >= 8),
    cbands AS (
      SELECT doc_id, b, CASE b {_sql_band_case()} END AS bkey
      FROM corpus CROSS JOIN (SELECT unnest(range({N_BANDS})) AS b)),
    dbands AS (
      SELECT doc_id, b, CASE b {_sql_band_case()} END AS bkey
      FROM delta CROSS JOIN (SELECT unnest(range({N_BANDS})) AS b)),
    cand AS (
      SELECT DISTINCT d.doc_id AS new_doc, c.doc_id AS corpus_doc
      FROM dbands d JOIN cbands c ON d.b = c.b AND d.bkey = c.bkey)
    SELECT new_doc, corpus_doc,
           len(list_intersect(sa.sh, sb.sh))::DOUBLE
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cand JOIN sig sa ON sa.doc_id = new_doc
              JOIN sig sb ON sb.doc_id = corpus_doc
    WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the shape a live 100 TB pipeline
    actually runs: a newly-arrived batch (here: doc_id % 10 >= 8) is
    checked for near-duplicates AGAINST THE INDEXED CORPUS ONLY, never
    re-pairing the corpus with itself. The corpus side of the band
    equi-join stands in for the persisted signature TABLE a production
    deployment maintains (bucketed by band key, so a delta batch's lookup
    is a co-located join); the delta side is the only thing re-signed per
    ingest. Cost scales with |delta| x bucket occupancy, not |corpus|^2 —
    THE property that makes continuous dedup affordable: the one-shot
    pair queries (minhash_lsh_neardup) answer "clean this corpus", this
    answers "may these new documents enter it".

    Same banded-LSH machinery as the self-join family (_band_frame /
    _verify_jaccard), same cache discipline (signature frame released
    after the verified pairs materialize)."""
    sig = _signatures(load_scaled(spark, sf_dir, "documents")).persist()
    is_delta = (F.col("doc_id") % INCREMENTAL_DELTA_MOD) >= 8
    cbands = _band_frame(sig.filter(~is_delta))
    dbands = _band_frame(sig.filter(is_delta))
    # multi-band dedup AFTER the verify (the _banded_pairs round-16
    # rationale: ~2% duplication measured, a duplicate verifies to the
    # identical row, and the pre-verify DISTINCT cost a full exchange of
    # the candidate set)
    cand = (
        dbands.alias("d")
        .join(cbands.alias("c"), ["b", "bkey"])
        .select(F.col("d.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        # same regression-signal metric as _banded_pairs (round 17): raw
        # candidates observable next to the verified output rowcount
        .observe("lsh_raw_candidates", F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        _verify_jaccard(cand, sig, sig, "sh", JACCARD_THRESHOLD)
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            F.col("doc_a").alias("new_doc"),
            F.col("doc_b").alias("corpus_doc"),
            "jaccard",
        )
        .transform(ckpt)
    )
    sig.unpersist()
    return pairs


# directional containment threshold: C(src->dst) = |S(src) ∩ S(dst)| /
# |S(src)| — "src is substantially inside dst", the boilerplate /
# quote / doc-in-doc signal symmetric jaccard misses (a short doc fully
# contained in a long one has LOW jaccard, so the minhash-band family
# never surfaces it)
CONTAINMENT_T = 0.8


@REG.add(
    "containment_prefix_pairs",
    f"""
    WITH hs AS (
      SELECT doc_id,
             list_distinct({sql_base_hashes(sql_word_shingles('text'))}) AS hs
      FROM documents
    ),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM hs),
    df AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    ranked AS (
      SELECT s.doc_id, s.h,
             row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.h) AS rk,
             len(x.hs) AS n
      FROM sh s JOIN df d USING (h) JOIN hs x ON x.doc_id = s.doc_id
    ),
    pfx AS (SELECT doc_id, h FROM ranked WHERE rk <= floor(n / 5) + 1),
    cand AS (
      SELECT DISTINCT p.doc_id AS src_doc, s.doc_id AS dst_doc
      FROM pfx p JOIN sh s USING (h) WHERE p.doc_id <> s.doc_id
    )
    SELECT src_doc, dst_doc,
           len(list_intersect(a.hs, b.hs))::DOUBLE / len(a.hs) AS containment
    FROM cand JOIN hs a ON a.doc_id = src_doc
              JOIN hs b ON b.doc_id = dst_doc
    WHERE len(list_intersect(a.hs, b.hs))::DOUBLE / len(a.hs)
          >= {CONTAINMENT_T}
    """,
)
def containment_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional set-CONTAINMENT pairs via a prefix-filtered similarity
    join (the PPJoin family's prefix principle, over hashed 3-word
    shingle sets): emit (src_doc, dst_doc, containment) where at least
    ``CONTAINMENT_T`` of src's shingles also appear in dst — the
    boilerplate / quotation / doc-inside-doc duplication signal the
    symmetric-jaccard family structurally misses (a short doc fully
    contained in a long one has jaccard ~ |src|/|dst|, far below any
    banding threshold).

    Candidate generation is EXACT-recall by pigeonhole, not
    probabilistic like minhash banding: each doc indexes only its
    ``floor(n/5)+1`` globally-RAREST shingles (rank by document
    frequency, hash as the tiebreak), and a qualifying pair can miss at
    most ``(1-T)*n = n/5 < floor(n/5)+1`` of src's shingles — so at
    least one prefix shingle of src must sit in dst, and the
    prefix-vs-full equi-join on the shingle hash surfaces every true
    pair. Rarest-first is also the anti-skew choice: the join keys are
    each doc's LOWEST-df shingles, so hub keys (templated boilerplate
    grams shared by half the corpus — the exact degeneration the
    chargram docstring records for single-minhash blocking) are
    structurally excluded from the probe side unless a doc consists of
    nothing else. Scale shape (100 TB): df is one partial-agg shuffle
    on the shingle hash; ranking is a per-doc window over ~1e2 rows;
    the candidate join carries (doc_id, hash) pairs only; the
    exact verify intersects int arrays on candidates only (the
    ``chargram_jaccard_pairs`` int-verify idiom). The DuckDB oracle
    replays the identical pipeline — same md5-derived hashes, same
    (df, h) rank order, same floor arithmetic — so parity is exact.

    Reference scope: beyond the 178-line reference (which has no dedup
    at all); this is north-star training-data surface, SURVEY §8.4."""
    d = load_scaled(spark, sf_dir, "documents")
    # hs rides the verify as array<int> (lossless: base hashes < 2^31-1
    # — the chargram narrowing, guide §2.3); the oracle keeps BIGINT
    # lists, and only intersect SIZES reach the output.
    sets_ = d.select(
        "doc_id",
        F.array_distinct(base_hashes(word_shingles(F.col("text"))))
        .cast("array<int>")
        .alias("hs"),
    ).persist()
    sh = sets_.select("doc_id", F.explode("hs").alias("h"))
    df = sh.groupBy("h").agg(F.count("*").alias("df"))
    # Prefix selection as a per-doc row_number window (round-17 REVERT of
    # the round-16 collect_list/array_sort hash-agg form, which the
    # driver measured 0.63x: buffering every doc's full (df, h)
    # struct set in the aggregate cost more than the sort-shuffle it
    # replaced — interleaved 4-variant A/B this round: agg form ~2.43 s
    # vs window form ~1.84-2.11 s medians at sf0.1, the two dedup
    # placements measured separately and both inside noise). n rides the
    # SAME window partition as an unordered count(*) — no second join to
    # attach it (one fewer operator than the r15 shape, zero extra
    # exchange: both functions share the doc_id hash partitioning).
    w_doc = W.partitionBy("doc_id")
    ranked = (
        sh.join(df, "h")
        .withColumn("rk", F.row_number().over(w_doc.orderBy("df", "h")))
        .withColumn("n", F.count("*").over(w_doc))
    )
    pfx = ranked.filter(
        F.col("rk") <= F.floor(F.col("n") / 5) + 1
    ).select("doc_id", "h")
    # candidates stay raw; the (small) verified pair set dedupes after
    # the verify (the _banded_pairs round-16 rationale — measured ~3%
    # duplication at sf0.1: 308k raw vs 300k distinct candidates, and a
    # duplicate verifies to the identical row)
    cand = (
        pfx.alias("p")
        .join(sh.alias("s"), "h")
        .filter(F.col("p.doc_id") != F.col("s.doc_id"))
        .select(
            F.col("p.doc_id").alias("src_doc"),
            F.col("s.doc_id").alias("dst_doc"),
        )
    )
    ix = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    cont = ix.cast("double") / F.size(F.col("sa.hs"))
    pairs = (
        cand.join(sets_.alias("sa"), F.col("src_doc") == F.col("sa.doc_id"))
        .join(sets_.alias("sb"), F.col("dst_doc") == F.col("sb.doc_id"))
        .select("src_doc", "dst_doc", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_T)
        .dropDuplicates(["src_doc", "dst_doc"])
        .transform(ckpt)
    )
    sets_.unpersist()
    return pairs


@REG.add(
    "neardup_source_matrix",
    f"""
    WITH {_sql_lsh_ctes()}
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           count(*) AS n_pairs
    FROM lshpairs p JOIN documents sa ON sa.doc_id = p.doc_a
                    JOIN documents sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH SOURCES MIRROR EACH OTHER: the MinHash-LSH near-dup pairs
    rolled up to an unordered source-pair matrix — the triage view a
    corpus owner reads before deciding which feed to drop or
    down-weight (cross-source duplicate mass is how mirrors, scrapes of
    scrapes, and re-hosted dumps show up in practice; per-doc pair
    lists answer "which doc", this answers "which FEED").

    Composition: the verified pair set from ``minhash_lsh_neardup``
    (banded candidates, exact-jaccard verify, the module's standard
    cache discipline) joined twice against the two-column
    (doc_id, source) projection, normalized to an unordered pair via
    least/greatest so (srcA, srcB) and (srcB, srcA) collapse, then one
    partial-aggregatable count. The pair frame is doc-id-only and tiny
    relative to the corpus, so both source joins broadcast at any scale
    where the documents dimension of (doc_id, source) fits the
    broadcast threshold — and when it doesn't, they are uniform-keyed
    equi-joins on doc_id. Output is |sources|^2-bounded, i.e. tiny."""
    pairs = minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.join(src.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(src.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select(
            F.least(F.col("x.source"), F.col("y.source")).alias("source_a"),
            F.greatest(F.col("x.source"), F.col("y.source")).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )
