"""Training-corpus quality surface: repetition signals, composite quality
filtering, end-to-end fuzzy-dedup keep-one, semantic (embedding) dedup
keep-one, and int8 embedding quantization.

The reference has no analogue (its one pipeline counts NPM dependencies —
SURVEY.md §2.8); these are the corpus-hygiene operators a 100 TB
LLM-training pipeline runs between raw scrape and tokenizer, modeled on
the public Gopher/C4 filtering rules (Rae et al. 2021 §A1.1, Raffel et al.
2020 §2.2) and SemDeDup (Abbas et al. 2023).

Scale notes (100 TB):
- repetition/quality signals are pure column expressions over each doc —
  whole-stage codegen, zero shuffle, linear scan;
- ``top_bigram_share`` shuffles on (doc_id, bigram) — key cardinality is
  corpus token count, uniformly spread, no hot key;
- keep-one queries reuse the LSH/cell-blocked pair pipelines (never
  all-pairs) and add only broadcast-or-equi joins on doc/vec ids;
- quantization is per-row array math: codegen over arrays, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import ckpt, load_table
from .dedup import REG as DEDUP_REG
from .dedup import neardup_clusters
from .registry import Registry
from .similarity import REG as SIM_REG
from .similarity import embedding_neardup_pairs

REG = Registry()

# Corpus convention (matches textops.vocab_top_terms): documents.text is
# single-line, single-space tokenized; split on ' ' in both engines.
_SQL_WS = "string_split(text, ' ')"


def _ws() -> Column:
    return F.split(F.col("text"), " ")


def _frac(num: Column, den: Column) -> Column:
    """num/den as double, 0.0 when den = 0 (deterministic: int inputs)."""
    return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))


@REG.add(
    "repetition_signals",
    f"""
    SELECT doc_id, n_words, n_distinct_words,
           CASE WHEN n_words > 0
                THEN CAST(n_words - n_distinct_words AS DOUBLE) / n_words
                ELSE 0.0 END AS dup_word_frac,
           CASE WHEN n_trigrams > 0
                THEN CAST(n_trigrams - n_distinct_trigrams AS DOUBLE) / n_trigrams
                ELSE 0.0 END AS dup_trigram_frac
    FROM (
      SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct_words,
             len(tg) AS n_trigrams, len(list_distinct(tg)) AS n_distinct_trigrams
      FROM (
        SELECT doc_id, ws,
               CASE WHEN len(ws) >= 3
                    THEN list_transform(range(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                    ELSE [] END AS tg
        FROM (SELECT doc_id, {_SQL_WS} AS ws FROM documents)))
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: "fraction of
    duplicate n-grams") per document: duplicate-word fraction and
    duplicate-word-trigram fraction, from distinct-vs-total counts over the
    token array. Pure column expressions — one linear pass, no shuffle at
    any scale. ``ws`` and ``tg`` are staged as their own projections so
    each is computed ONCE per row: they are non-cheap and multiply
    referenced, which CollapseProject refuses to re-inline (SPARK-36718);
    an inlined form re-evaluates split() ~10x per row."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", _ws().alias("ws"))
    ws = F.col("ws")
    n = F.size(ws)
    tg = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i + 1), F.element_at(ws, i + 2), F.element_at(ws, i + 3)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        staged.select(
            "doc_id",
            n.alias("n_words"),
            F.size(F.array_distinct(ws)).alias("n_distinct_words"),
            tg.alias("tg"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            F.size("tg").alias("n_trigrams"),
            F.size(F.array_distinct("tg")).alias("n_distinct_trigrams"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            _frac(F.col("n_words") - F.col("n_distinct_words"), F.col("n_words")).alias(
                "dup_word_frac"
            ),
            _frac(
                F.col("n_trigrams") - F.col("n_distinct_trigrams"), F.col("n_trigrams")
            ).alias("dup_trigram_frac"),
        )
    )


@REG.add(
    "top_bigram_share",
    f"""
    SELECT doc_id, top_bigram, top_count, n_bigrams,
           CAST(top_count AS DOUBLE) / n_bigrams AS top_bigram_share
    FROM (
      SELECT doc_id, bg AS top_bigram, n AS top_count,
             CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
             row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bg) AS rn
      FROM (
        SELECT doc_id, bg, count(*) AS n
        FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                                i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM (SELECT doc_id, {_SQL_WS} AS ws FROM documents)
          WHERE len(ws) >= 2)
        GROUP BY doc_id, bg))
    WHERE rn = 1
    """,
)
def top_bigram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent word bigram per document and its share of all bigram
    instances — the other Gopher repetition family ("fraction of characters
    in the most common n-gram"). Explode -> (doc_id, bigram) hash count ->
    per-doc window top-1. The shuffle key is (doc_id, bigram): cardinality
    grows with corpus tokens but stays uniform, so no hot partitions at
    100 TB; the window sees one row per distinct bigram, not per token.
    ``ws`` is staged (see repetition_signals) so split() runs once/row."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.col("ws")
    bg = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)),
    )
    counts = (
        d.select("doc_id", _ws().alias("ws"))
        .filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(bg).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("doc_id")
    ranked = counts.select(
        "doc_id",
        F.col("bg").alias("top_bigram"),
        F.col("n").alias("top_count"),
        F.sum("n").over(w).alias("n_bigrams"),
        F.row_number().over(w.orderBy(F.desc("n"), "bg")).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "top_bigram",
        "top_count",
        "n_bigrams",
        (F.col("top_count").cast("double") / F.col("n_bigrams")).alias("top_bigram_share"),
    )


_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for"]
_KNOWN_LANGS = ["en", "de", "fr", "es", "zh"]


@REG.add(
    "quality_filter_composite",
    f"""
    SELECT doc_id, n_words, mean_word_len, stopword_hits,
           len_ok, word_len_ok, stopword_ok, lang_ok,
           (len_ok AND word_len_ok AND stopword_ok AND lang_ok) AS keep
    FROM (
      SELECT doc_id, n_words, mean_word_len, stopword_hits,
             (n_words BETWEEN 5 AND 5000)                 AS len_ok,
             (mean_word_len BETWEEN 2.0 AND 12.0)          AS word_len_ok,
             (stopword_hits >= 2)                          AS stopword_ok,
             (lang IN ({", ".join(f"'{x}'" for x in _KNOWN_LANGS)})) AS lang_ok
      FROM (
        SELECT doc_id, lang, len(ws) AS n_words,
               CASE WHEN len(ws) > 0
                    THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(ws,
                    w -> w IN ({", ".join(f"'{x}'" for x in _STOPWORDS)}))) AS BIGINT)
                 AS stopword_hits
        FROM (SELECT doc_id, lang, {_SQL_WS} AS ws FROM documents)))
    """,
)
def quality_filter_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality gate (Raffel et al. 2020 §2.2,
    Rae et al. 2021 §A1.1) adapted to the synthetic corpus: word-count
    bounds, mean-word-length bounds, minimum stopword evidence, known
    language — each surfaced as a flag plus the final ``keep`` verdict so
    downstream can audit WHY a doc dropped. Pure column expressions, one
    linear pass. The token array and each metric are staged projections
    (see repetition_signals): the flags reference the metric COLUMNS, so
    the mean-word-length aggregate runs once per row instead of three
    times (its lambda variables get fresh ids per use, which also defeats
    runtime subexpression elimination)."""
    return quality_flags(load_table(spark, sf_dir, "documents"))


def quality_flags(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Core of ``quality_filter_composite`` over any (doc_id, lang, text)
    frame — factored so the same gate applies to streaming micro-batches
    (see test_streaming_quality_gate_to_shard_export) as to the batch
    table; pure column expressions either way.

    ``carry`` names EXISTING columns of ``d`` to ride through unchanged —
    the round-17 fusion hook: quality_flags is a pure projection, so a
    caller that already scans the text (the capstone's norm-hash/token
    stage) can compute its own columns in the same pass and get the
    audited quality verdict WITHOUT a second corpus scan + doc_id join.
    Default () keeps every existing caller byte-identical."""
    ws = F.col("ws")
    n = F.size(ws)
    mean_len = F.when(
        n > 0,
        F.aggregate(
            F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / n,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(ws, lambda w: w.isin(_STOPWORDS))
    ).cast("bigint")
    metrics = (
        d.select("doc_id", "lang", _ws().alias("ws"), *carry)
        .select(
            "doc_id",
            "lang",
            n.alias("n_words"),
            mean_len.alias("mean_word_len"),
            stop_hits.alias("stopword_hits"),
            *carry,
        )
    )
    flags = metrics.select(
        "doc_id",
        *carry,
        "n_words",
        "mean_word_len",
        "stopword_hits",
        F.col("n_words").between(5, 5000).alias("len_ok"),
        F.col("mean_word_len").between(2.0, 12.0).alias("word_len_ok"),
        (F.col("stopword_hits") >= 2).alias("stopword_ok"),
        F.col("lang").isin(_KNOWN_LANGS).alias("lang_ok"),
    )
    return flags.withColumn(
        "keep",
        F.col("len_ok") & F.col("word_len_ok") & F.col("stopword_ok") & F.col("lang_ok"),
    )


@REG.add(
    "fuzzy_dedup_keep_one",
    f"""
    WITH clusters AS ({DEDUP_REG.oracles["neardup_clusters"]})
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS canonical_id,
           coalesce(c.is_keeper, TRUE)      AS keep
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    """,
)
def fuzzy_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END fuzzy dedup: every document mapped to its near-dup
    canonical id with a keep/drop verdict — the materialized output a
    training pipeline actually writes (MinHash-LSH pairs -> connected
    components -> keep the minimum doc_id per component; unique docs keep
    themselves). Reuses ``neardup_clusters`` (bucketed LSH, never
    all-pairs); the only addition is a left join on doc_id, which at 100 TB
    is an equi-join where the cluster side holds only the near-dup subset
    (typically a few percent of the corpus), so it broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    c = neardup_clusters(spark, sf_dir)
    return d.select("doc_id").join(c, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("canonical_id"),
        F.coalesce(F.col("is_keeper"), F.lit(True)).alias("keep"),
    )


@REG.add(
    "semdedup_keep_one",
    f"""
    WITH pairs AS ({SIM_REG.oracles["embedding_neardup_pairs"]})
    SELECT e.vec_id,
           (dup.vec_b IS NULL) AS keep
    FROM embeddings e
    LEFT JOIN (SELECT DISTINCT vec_b FROM pairs) dup ON e.vec_id = dup.vec_b
    """,
)
def semdedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop every embedding that has a
    higher-similarity twin with a smaller id — i.e. the larger id of each
    cell-blocked near-dup pair loses. Reuses ``embedding_neardup_pairs``
    (quantizer-cell blocking + multi-probe, never all-pairs); the keep
    verdict is one left anti-style join on vec_id against the distinct
    loser set, which is small and broadcasts."""
    e = load_table(spark, sf_dir, "embeddings")
    losers = (
        embedding_neardup_pairs(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return e.select("vec_id").join(F.broadcast(losers), "vec_id", "left").select(
        "vec_id", F.col("is_dup").isNull().alias("keep")
    )


@REG.add(
    "embedding_quantize_int8",
    """
    SELECT vec_id, n_dims, scale, sum_codes,
           round(max_abs_err * scale, 6) AS max_scaled_err
    FROM (
      SELECT vec_id, len(embedding) AS n_dims, scale,
             CAST(list_sum(codes) AS BIGINT) AS sum_codes,
             list_max(list_transform(range(1, len(embedding) + 1),
                      i -> abs(CAST(embedding[i] AS DOUBLE) - codes[i] / scale)))
               AS max_abs_err
      FROM (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INTEGER)) AS codes
        FROM (
          SELECT vec_id, embedding,
                 127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                   AS scale
          FROM embeddings
          WHERE list_max(list_transform(embedding, x -> abs(x))) > 0)))
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (the standard
    ANN-index compression: scale = 127/max|x|, code = round(x*scale)),
    audited per vector: code sum (exact integer checksum) and the max
    reconstruction error re-scaled into code units. All array math is
    column expressions over array<float> — codegen, no shuffle, no Python;
    at 100 TB this is the map stage that writes the compact index. The
    scaled error is rounded to 6 decimals for the cross-engine hash; the
    unrounded double feeds real index builds."""
    e = load_table(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", F.abs))
    q = e.filter(mx > 0).select(
        "vec_id",
        "embedding",
        (F.lit(127.0) / mx.cast("double")).alias("scale"),
    )
    codes = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * F.col("scale")).cast("int")
    )
    q = q.withColumn("codes", codes)
    err = F.array_max(
        F.zip_with(
            "embedding",
            "codes",
            lambda x, c: F.abs(x.cast("double") - c.cast("double") / F.col("scale")),
        )
    )
    return q.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        "scale",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_codes"),
        F.round(err * F.col("scale"), 6).alias("max_scaled_err"),
    )


SEQ_BUDGET = 2048  # tokens per packed training sequence
PACK_SHARD = 1024  # docs per prefix-sum shard (see pack_sequences)


@REG.add(
    "pack_sequences",
    f"""
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS start_seq,
           CAST((cum - n_tokens) % {SEQ_BUDGET} AS BIGINT) AS start_offset,
           CAST((cum - 1) // {SEQ_BUDGET} AS BIGINT)       AS end_seq
    FROM (
      SELECT doc_id, CAST(len({_SQL_WS}) AS BIGINT) AS n_tokens,
             CAST(sum(len({_SQL_WS})) OVER
                  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum
      FROM documents)
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing — the map every pretraining
    export runs: documents are concatenated in doc_id order and the token
    stream is cut into fixed SEQ_BUDGET-token sequences; each doc reports
    the sequence it starts in, its offset there, and the sequence it ends
    in (GPT-style block packing; no padding waste, docs may straddle a
    boundary).

    The whole op is one global prefix sum of token counts. A bare
    ``Window.orderBy`` with no partition key would drag the entire corpus
    into ONE task, so this computes the textbook distributed prefix sum
    instead: (1) cumsum WITHIN doc_id-range shards (hash-partitioned
    window, full parallelism), (2) per-shard totals — one tiny row per
    shard — offset-summed in a single-partition window over #shards rows
    (~N/PACK_SHARD; driver-side small by construction, the same shape at
    any corpus size because PACK_SHARD scales with mean doc length), (3)
    broadcast the offsets back. Shuffle cost: one hash exchange of
    (doc_id, n_tokens) int pairs + one broadcast — the document text never
    moves. DuckDB oracle: the plain windowed cumsum, value-identical."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(_ws()).cast("long").alias("n_tokens"))
    return pack_token_counts(t)


def pack_token_counts(
    t: DataFrame, budget: int = SEQ_BUDGET, shard_size: int = PACK_SHARD
) -> DataFrame:
    """Core of ``pack_sequences`` over a (doc_id, n_tokens) frame — the
    distributed prefix sum + chunk arithmetic, factored so property tests
    can drive it with adversarial frames (gapped ids, empty shards, docs
    spanning many sequences). Precondition: n_tokens >= 1, which
    ``split`` guarantees (an empty string tokenizes to [''] — 1 token —
    in both Spark and DuckDB); a zero-token row would make end_seq <
    start_seq by the (cum - 1) arithmetic."""
    t = t.withColumn("shard", F.expr(f"doc_id DIV {shard_size}"))
    w_in = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    t = t.withColumn("local_cum", F.sum("n_tokens").over(w_in))
    w_sh = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        t.groupBy("shard")
        .agg(F.max("local_cum").alias("shard_total"))
        .withColumn("offset", F.coalesce(F.sum("shard_total").over(w_sh), F.lit(0)))
        .select("shard", "offset")
    )
    return (
        t.join(F.broadcast(offsets), "shard")
        .withColumn("cum", F.col("offset") + F.col("local_cum"))
        .selectExpr(
            "doc_id",
            "n_tokens",
            f"(cum - n_tokens) DIV {budget} AS start_seq",
            f"(cum - n_tokens) % {budget} AS start_offset",
            f"(cum - 1) DIV {budget} AS end_seq",
        )
    )


def _corpus_pipeline_oracle() -> str:
    from .textops import REG as TXT_REG
    from .textops import N_PROBE_DOCS, sql_split_assign

    from ..functions.text import sql_norm

    return f"""
    WITH norm AS (
      SELECT doc_id,
             md5({sql_norm('text')}) AS norm_hash,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    exact AS (
      SELECT doc_id, n_tokens,
             min(doc_id) OVER (PARTITION BY norm_hash) AS exact_keeper
      FROM norm),
    qual AS ({REG.oracles["quality_filter_composite"]}),
    fuzzy AS ({REG.oracles["fuzzy_dedup_keep_one"]}),
    contam AS ({TXT_REG.oracles["contamination_ngram_hits"]}),
    verdicts AS (
      SELECT e.doc_id,
             CASE WHEN e.doc_id < {N_PROBE_DOCS}          THEN 'probe_holdout'
                  WHEN e.exact_keeper <> e.doc_id         THEN 'exact_dup'
                  WHEN NOT q.keep                         THEN 'quality'
                  WHEN NOT f.keep                         THEN 'near_dup'
                  WHEN coalesce(c.n_gram_hits, 0) > 0     THEN 'contaminated'
                  ELSE 'kept' END AS verdict,
             CAST(e.n_tokens AS BIGINT) AS n_tokens
      FROM exact e
      JOIN qual q  ON q.doc_id = e.doc_id
      JOIN fuzzy f ON f.doc_id = e.doc_id
      LEFT JOIN contam c ON c.doc_id = e.doc_id)
    SELECT doc_id, verdict, n_tokens,
           CASE WHEN verdict = 'kept' THEN {sql_split_assign('doc_id')} END AS split
    FROM verdicts
    """


def _register_corpus_pipeline() -> None:
    REG.add("corpus_pipeline_verdicts", _corpus_pipeline_oracle())(corpus_pipeline_verdicts)


def corpus_pipeline_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full training-data prep pipeline as one composition — per
    document, the first-failing-stage verdict plus the split assignment
    and token count a kept doc ships with:

      probe_holdout  doc is in the held-out benchmark set (never trains)
      exact_dup      another doc normalizes to the same text (min-id wins)
      quality        fails the C4/Gopher composite gate
      near_dup       loses its MinHash-LSH connected component
      contaminated   shares a 5-gram with the probe set
      kept           survives everything; gets train/val/test + n_tokens

    Every stage reuses an oracle-verified operator (text_normalize's
    canonical form, quality_flags, neardup_clusters' component verdicts
    — the exact frame fuzzy_dedup_keep_one left-joins, applied with the
    identical coalesce rule — contamination_ngram_hits,
    dataset_split_assign's hash split), and each stage's verdict is
    computed over the FULL corpus — verdicts are stable facts about a
    document, not survivor-order artifacts, so stages can run (and be
    audited) independently; the CASE only decides which reason reports
    first.

    Shape (round 17, guide §2.4): the exact-dup hash, token count, and
    quality verdict are ONE corpus scan — quality_flags is a pure
    projection, so its audited expressions run in the same pass that
    md5s the normalized text (``carry=``), where the previous shape
    paid a second full scan plus a corpus x corpus doc_id sort-merge
    join to reunite them. The near-dup stage joins the CLUSTER LABEL
    frame directly (near-dup members only — a few percent of the
    corpus, broadcast at any scale, exactly the frame and the
    coalesce(is_keeper, true) rule inside fuzzy_dedup_keep_one) where
    the previous shape joined fuzzy's corpus-sized all-docs output —
    a second corpus x corpus sort-merge join gone. Contamination stays
    a broadcast left join (hit docs only). The exact-dup window
    hash-partitions on norm_hash. The composition a real corpus run
    executes nightly — and the closest thing this engine has to a
    second flagship."""
    from ..functions.text import norm_expr
    from .textops import N_PROBE_DOCS, contamination_ngram_hits, split_assign_expr

    d = load_table(spark, sf_dir, "documents")
    # exact_dup keys on the SHARED canonical normalization
    # (functions.text.norm_expr — same definition text_normalize and
    # dedup_normalized_hash use), so this stage cannot drift from the
    # audited dedup operators.
    norm = norm_expr(F.col("text"))
    base = quality_flags(
        d.select(
            "doc_id",
            "lang",
            "text",
            F.md5(norm).alias("norm_hash"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ),
        carry=("norm_hash", "n_tokens"),
    ).select("doc_id", "norm_hash", "n_tokens", F.col("keep").alias("q_keep"))
    exact = base.withColumn(
        "exact_keeper", F.min("doc_id").over(W.partitionBy("norm_hash"))
    )
    fz = neardup_clusters(spark, sf_dir).select(
        "doc_id", F.col("is_keeper").alias("f_keep")
    )
    c = contamination_ngram_hits(spark, sf_dir)
    # broadcast by hint, not by AQE at run time: a runtime conversion
    # depends on which side finishes first, and when the window's doc_id
    # exchange had already started the query ran one more job
    j = (
        exact.join(F.broadcast(fz), "doc_id", "left")
        .join(F.broadcast(c), "doc_id", "left")
    )
    verdict = (
        F.when(F.col("doc_id") < N_PROBE_DOCS, "probe_holdout")
        .when(F.col("exact_keeper") != F.col("doc_id"), "exact_dup")
        .when(~F.col("q_keep"), "quality")
        .when(~F.coalesce(F.col("f_keep"), F.lit(True)), "near_dup")
        .when(F.coalesce(F.col("n_gram_hits"), F.lit(0)) > 0, "contaminated")
        .otherwise("kept")
    )
    return j.select(
        "doc_id",
        verdict.alias("verdict"),
        "n_tokens",
        F.when(verdict == "kept", split_assign_expr(F.col("doc_id"))).alias("split"),
    )


_register_corpus_pipeline()


BUDGET_TOKENS = 15_000  # token budget the selection fills
BUDGET_BUCKETS = 64  # quantile buckets for the distributed running sum


@REG.add(
    "corpus_budget_select",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_SQL_WS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_SQL_WS})) AS DOUBLE)
               / len({_SQL_WS}) AS score
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, score,
             CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM t)
    SELECT doc_id, n_tokens, score, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {BUDGET_TOKENS}
    """,
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection — the "best data first" export every
    budgeted training run makes: rank documents by a quality key
    (lexical diversity: distinct-token ratio, an exact integer division
    so both engines agree bitwise; ties broken by doc_id for a total
    order) and keep documents from the top until BUDGET_TOKENS is
    reached; a document is kept iff the budget was not exhausted BEFORE
    it (so the selection always overshoots by at most one document and
    never undershoots).

    The whole op is a RUNNING SUM OF TOKENS IN QUALITY ORDER — at 100 TB
    the naive ``sum().over(Window.orderBy(score))`` is a scale-killer
    (one task sorts and sums the entire corpus), so this runs the shared
    ``bucketed_prefix_sum`` two-pass idiom (relational.py, the
    prefix-sum sibling of bucketed_global_rank): quantile-derived score
    buckets (an approxQuantile pre-pass, skew-resistant where equi-width
    buckets would collapse onto the score distribution's dense region)
    → per-bucket parallel cumsum → tiny per-bucket offsets frame →
    broadcast back. The heavy window stays partitioned; only the
    buckets-sized offsets frame crosses a single-partition window. The
    scored (doc_id, n_tokens, score) frame is ``ckpt``-ed first: the
    quantile sketch and BOTH prefix-sum branches read the materialized
    narrow frame, so the wide text column is scanned and tokenized
    exactly ONCE (without it each consumer re-splits every document —
    three full text passes at 100 TB). The oracle is exactly the naive
    global window the engine refuses to run."""
    from .relational import bucketed_prefix_sum, quantile_bucket

    d = load_table(spark, sf_dir, "documents")
    toks = _ws()
    t = ckpt(
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
                "score"
            ),
        ).withColumn("neg_score", -F.col("score"))  # ASC on neg == DESC on score
    )
    bucket = quantile_bucket(t, "neg_score", BUDGET_BUCKETS)
    c = bucketed_prefix_sum(
        t, bucket, ["neg_score", "doc_id"], "n_tokens", "cum_tokens"
    )
    return c.filter(F.col("cum_tokens") - F.col("n_tokens") < BUDGET_TOKENS).select(
        "doc_id", "n_tokens", "score", "cum_tokens"
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit — the check every deterministic split
    needs before a benchmark number is trusted: duplicate documents
    (same normalized-text hash, the dedup_normalized_hash key) that land
    in DIFFERENT splits leak training content into evaluation. Groups
    documents by the canonical normalized hash, takes each duplicate
    group's set of splits (via the shared ``split_assign_expr`` — the
    single split definition, so the audit can never disagree with the
    assignment), and reports one row per observed split combination:
    how many duplicate groups and documents show that profile. A profile
    containing more than one split ("train+val", "train+test", ...) IS
    the leakage; the mitigation is group-aware splitting (assign the
    split from the group's min doc_id hash instead of each member's).

    Shapes, at 100 TB: one hash-group on the 16-byte norm hash (the
    document body never shuffles — md5 first, group on the digest), a
    bounded collect_set (≤ 3 splits) per group, then a tiny profile agg.
    Same scale story as dedup_exact_summary plus a constant-size set.

    tests/test_llm_ops.py recomputes the profiles in pure Python."""
    from ..functions.text import norm_expr
    from .textops import split_assign_expr

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.md5(norm_expr(F.col("text"))).alias("norm_hash"),
        split_assign_expr(F.col("doc_id")).alias("split"),
    )
    groups = keyed.groupBy("norm_hash").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.concat_ws("+", F.array_sort(F.collect_set("split"))).alias("split_profile"),
    )
    dups = groups.filter(F.col("n_docs") > 1)
    return dups.groupBy("split_profile").agg(
        F.count("*").cast("long").alias("n_dup_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.max("n_docs").cast("long").alias("largest_group"),
    )


def _split_leakage_oracle() -> str:
    """Oracle for split_leakage_audit: the same normalized-hash grouping
    and split rule through the shared SQL twins (functions.text.sql_norm,
    textops.sql_split_assign), profile string via string_agg of the
    DISTINCT ordered splits — mirrors concat_ws over array_sort of
    collect_set."""
    from ..functions.text import sql_norm
    from .textops import sql_split_assign

    return f"""
    WITH keyed AS (
      SELECT md5({sql_norm('text')}) AS norm_hash,
             {sql_split_assign('doc_id')} AS split
      FROM documents),
    groups AS (
      SELECT norm_hash,
             CAST(count(*) AS BIGINT) AS n_docs,
             string_agg(DISTINCT split, '+' ORDER BY split) AS split_profile
      FROM keyed GROUP BY norm_hash)
    SELECT split_profile,
           CAST(count(*) AS BIGINT) AS n_dup_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(max(n_docs) AS BIGINT) AS largest_group
    FROM groups WHERE n_docs > 1
    GROUP BY split_profile
    """


REG.add("split_leakage_audit", _split_leakage_oracle())(split_leakage_audit)
