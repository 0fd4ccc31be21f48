"""Text-analysis operators over the ``documents`` table: language-ID
heuristic, quality scoring, token counting, and document fingerprinting —
the per-document stages of a training-data pipeline.

Everything is built-in column expressions (codegen'd, no Python row path);
ratios divide exact integers so outputs are engine-deterministic without
rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import (
    base_hashes,
    char_shingles,
    minhash_affine,
    norm_expr,
    sql_base_hashes,
    sql_char_shingles,
    sql_minhash_affine,
    sql_norm,
    sql_word_shingles,
    word_shingles,
)
from ..session import ckpt, load_scaled, load_table, table_bytes
from .registry import Registry

REG = Registry()

# Marker-token profiles for the n-gram/stopword language heuristic. The
# synthetic corpus is an English-ish word soup, so the profiles are
# demonstration-grade; the OPERATOR (per-language marker-hit argmax with a
# deterministic tie-break) is the real deliverable, and the marker lists are
# config. Languages follow the corpus labels: en de fr es zh.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "key", "order"],
    "de": ["data", "row", "column"],
    "es": ["table", "query", "scan"],
    "fr": ["join", "merge", "sort"],
    "zh": ["spark", "stream", "batch"],
}

STOPWORDS = ["the", "a", "of", "and", "to"]


def _hits(toks: Column, markers: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(markers)))


def _sql_hits(toks: str, markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"


_LANGS = list(LANG_MARKERS)


@REG.add(
    "lang_id_heuristic",
    f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_sql_hits('toks', LANG_MARKERS[lg])} AS s_{lg}" for lg in _LANGS)}
      FROM t)
    SELECT doc_id, lang AS labeled_lang,
           CASE greatest({", ".join(f"s_{lg}" for lg in _LANGS)})
             {" ".join(f"WHEN s_{lg} THEN '{lg}'" for lg in _LANGS)}
           END AS pred_lang
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: count hits per language profile, argmax
    with first-language-wins tie-break (the CASE scans profiles in order)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[_hits(toks, LANG_MARKERS[lg]).alias(f"s_{lg}") for lg in _LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANGS])
    pred = F.when(F.col(f"s_{_LANGS[0]}") == best, _LANGS[0])
    for lg in _LANGS[1:]:
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    return scored.select("doc_id", "labeled_lang", pred.alias("pred_lang"))


@REG.add(
    "text_quality_scores",
    f"""
    WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks)                                            AS n_tokens,
           n_chars::DOUBLE / len(toks)                          AS avg_token_len,
           {_sql_hits('toks', STOPWORDS)}::DOUBLE / len(toks)   AS stopword_ratio,
           len(list_distinct(toks))::DOUBLE / len(toks)         AS lexical_diversity,
           CASE WHEN len(toks) BETWEEN 20 AND 400
                 AND {_sql_hits('toks', STOPWORDS)} > 0
                THEN 1 ELSE 0 END                               AS quality_pass
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, stopword ratio, lexical diversity, and a
    rule-based keep/drop gate — integer ratios, engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    stop = _hits(toks, STOPWORDS)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n).alias("avg_token_len"),
        (stop.cast("double") / n).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("lexical_diversity"),
        F.when(n.between(20, 400) & (stop > 0), 1).otherwise(0).alias("quality_pass"),
    )


@REG.add(
    "token_counts",
    r"""
    SELECT doc_id,
           len(string_split(text, ' '))                          AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S'))     AS bpe_ish_tokens,
           length(text)                                          AS n_chars_actual
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | any other non-space char)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|\S"), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


@REG.add(
    "doc_fingerprints",
    f"""
    WITH g AS (SELECT doc_id, text,
               {sql_base_hashes(sql_char_shingles('text', 16))} AS bases FROM documents)
    SELECT doc_id,
           {sql_minhash_affine('bases', 13)} AS fp_min,
           {sql_minhash_affine('bases', 14)} AS fp_min2,
           md5(text)                         AS fp_full
    FROM g
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min affine-hash over rolling 16-char
    windows (2 hash functions, one md5 pass) + whole-document md5. Two docs
    sharing fp_min are near-dup candidates; fp_full pins exact dups."""
    d = load_scaled(spark, sf_dir, "documents")
    bases = base_hashes(char_shingles(F.col("text"), 16))
    return d.select(
        "doc_id",
        minhash_affine(bases, 13).alias("fp_min"),
        minhash_affine(bases, 14).alias("fp_min2"),
        F.md5("text").alias("fp_full"),
    )


@REG.add(
    "text_normalize",
    f"""
    SELECT doc_id,
           norm AS norm_text,
           md5(norm) AS norm_hash,
           length(norm) AS norm_len
    FROM (
      SELECT doc_id, {sql_norm('text')} AS norm
      FROM documents)
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the step before any exact/near dedup:
    lowercase, strip non-alphanumerics, collapse whitespace, trim; the md5
    of the normalized form is the dedup key that catches
    case/punctuation-variant duplicates raw sha256 misses. The chain is the
    shared ``functions.text.norm_expr`` (one definition for this query,
    dedup_normalized_hash, and the capstone's exact_dup stage). Pure
    JVM-side regexp (both engines use the same ASCII character classes);
    one narrow projection, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    norm = norm_expr(F.col("text"))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("norm_len"),
    )


@REG.add(
    "dedup_normalized_hash",
    f"""
    SELECT norm_hash, min(doc_id) AS keeper_id, count(*) AS n_variants
    FROM (
      SELECT doc_id, md5({sql_norm('text')}) AS norm_hash
      FROM documents)
    GROUP BY norm_hash
    HAVING count(*) > 1
    """,
)
def dedup_normalized_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize-then-dedup composition: groups whose NORMALIZED hash
    collides (case/punctuation variants of the same text) with the keeper
    id — duplicates invisible to raw exact dedup. Same shuffle shape as
    dedup_exact_hash: the 32-hex key moves, never the document."""
    groups = (
        text_normalize(spark, sf_dir)
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_variants"))
    )
    return groups.filter(F.col("n_variants") > 1)


@REG.add(
    "stratified_sample",
    """
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
    FROM (
      SELECT lang, doc_id,
             strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
               AS h16
      FROM documents)
    WHERE h16 < CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4 ELSE 2 END
    GROUP BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language rates (en 8/16,
    de 4/16, rest 2/16) via the hash-prefix class of the key — the
    training-mix rebalance (downsample dominant languages) as a pure
    filter: reproducible across engines/runs/partitionings, no shuffle,
    no rand() state."""
    d = load_table(spark, sf_dir, "documents")
    h16 = F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 1), 16, 10).cast("int")
    rate = (
        F.when(F.col("lang") == "en", 8).when(F.col("lang") == "de", 4).otherwise(2)
    )
    return (
        d.select("lang", "doc_id", h16.alias("h16"), rate.alias("rate"))
        .filter(F.col("h16") < F.col("rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), F.min("doc_id").alias("first_doc"))
    )


# Shared PII surface (pii_scan detects, pii_redact removes — ONE
# definition of both the patterns and the synthetic seeding, so the two
# queries can never disagree about what counts as PII). Patterns stay in
# the regex subset RE2 (DuckDB) and Java (Spark) evaluate identically —
# no backslash classes, no bounded repetition.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PII_URL = r"https?://[^ ]+"
PII_SSN = "[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_SEED_EVERY = 13  # every 13th doc gets deterministic synthetic PII

# SQL twin of _with_synthetic_pii's text column
_SQL_PII_TEXT = f"""CASE WHEN doc_id % {PII_SEED_EVERY} = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or https://example.com/d/'
                       || CAST(doc_id AS VARCHAR)
                  ELSE text END"""


def _with_synthetic_pii(d: DataFrame) -> DataFrame:
    """Every PII_SEED_EVERY-th document gets a deterministic synthetic
    email + URL appended, so the PII queries exercise real matches on the
    otherwise-clean synthetic corpus. Replaces ``text`` in place; other
    columns pass through. SQL twin: ``_SQL_PII_TEXT``."""
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % PII_SEED_EVERY == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or https://example.com/d/"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )


@REG.add(
    "pii_scan",
    f"""
    WITH seeded AS (
      SELECT lang, {_SQL_PII_TEXT} AS text
      FROM documents)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(sum(len(regexp_extract_all(text, '{PII_URL}'))) AS BIGINT) AS n_urls,
           CAST(sum(len(regexp_extract_all(text, '{PII_SSN}'))) AS BIGINT) AS n_ssn_like,
           CAST(sum(CASE WHEN regexp_matches(text, '{PII_EMAIL}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_email
    FROM seeded GROUP BY lang
    """,
)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-pattern screening rollup — the hygiene gate before
    training-data export: per language, occurrence counts of email-,
    URL- and SSN-shaped substrings plus how many documents carry at least
    one email. One scan, partial-aggregatable; at 100 TB the per-doc
    flags would also be WRITTEN back as columns so downstream filters
    prune on them (``pii_redact`` below is that per-doc form). Patterns
    and the synthetic seeding are the module-level shared surface
    (PII_EMAIL/_URL/_SSN, _with_synthetic_pii) so scan and redact can
    never drift."""
    d = _with_synthetic_pii(load_table(spark, sf_dir, "documents")).select("lang", "text")
    n = lambda p: F.size(F.regexp_extract_all("text", F.lit(p), 0))  # noqa: E731
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n(PII_EMAIL)).alias("n_emails"),
        F.sum(n(PII_URL)).alias("n_urls"),
        F.sum(n(PII_SSN)).alias("n_ssn_like"),
        F.sum(F.when(F.regexp_like("text", F.lit(PII_EMAIL)), 1).otherwise(0)).alias(
            "n_docs_with_email"
        ),
    )


PII_MASK = "<PII>"  # replacement token for redacted spans


@REG.add(
    "pii_redact",
    f"""
    WITH seeded AS (
      SELECT doc_id, {_SQL_PII_TEXT} AS text
      FROM documents),
    hits AS (
      SELECT doc_id, text,
             CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '{PII_URL}')) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(text, '{PII_SSN}')) AS BIGINT) AS n_ssn_like
      FROM seeded)
    SELECT doc_id, n_emails, n_urls, n_ssn_like,
           sha256(regexp_replace(
                    regexp_replace(
                      regexp_replace(text, '{PII_EMAIL}', '{PII_MASK}', 'g'),
                      '{PII_URL}', '{PII_MASK}', 'g'),
                    '{PII_SSN}', '{PII_MASK}', 'g')) AS redacted_sha,
           CAST(length(regexp_replace(
                    regexp_replace(
                      regexp_replace(text, '{PII_EMAIL}', '{PII_MASK}', 'g'),
                      '{PII_URL}', '{PII_MASK}', 'g'),
                    '{PII_SSN}', '{PII_MASK}', 'g')) AS BIGINT) AS n_chars_after
    FROM hits
    WHERE n_emails + n_urls + n_ssn_like > 0
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII REDACTION — the transform half of the hygiene
    gate (``pii_scan`` is the report half): every email-, URL- and
    SSN-shaped span is replaced with a mask token, and each touched doc
    reports what was removed plus a sha256 of the redacted text (the
    full text would bloat the result; the digest pins the exact output
    byte-for-byte against the oracle, the multimodal_decode_real
    technique). Replacement order is fixed email→url→ssn so overlapping
    matches resolve identically in both engines. Pure row-local codegen
    (regexp_replace chain), zero shuffles, predicate-pushdown friendly —
    the 100 TB form writes ``redacted_text`` back as a column in the
    same pass. Untouched docs are filtered out here to keep the result
    the audit log of changes; production keeps all rows."""
    d = _with_synthetic_pii(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    n = lambda p: F.size(F.regexp_extract_all("text", F.lit(p), 0))  # noqa: E731
    red = F.col("text")
    for pat in (PII_EMAIL, PII_URL, PII_SSN):
        red = F.regexp_replace(red, F.lit(pat), F.lit(PII_MASK))
    h = d.select(
        "doc_id",
        F.col("text"),
        n(PII_EMAIL).cast("long").alias("n_emails"),
        n(PII_URL).cast("long").alias("n_urls"),
        n(PII_SSN).cast("long").alias("n_ssn_like"),
        red.alias("redacted"),
    )
    return h.filter(
        F.col("n_emails") + F.col("n_urls") + F.col("n_ssn_like") > 0
    ).select(
        "doc_id", "n_emails", "n_urls", "n_ssn_like",
        F.sha2("redacted", 256).alias("redacted_sha"),
        F.length("redacted").cast("long").alias("n_chars_after"),
    )


N_PROBE_DOCS = 20  # doc_id < 20 play the held-out benchmark set
CONTAM_K = 5  # gram width for containment detection


@REG.add(
    "contamination_ngram_hits",
    f"""
    WITH g AS (
      SELECT doc_id, {sql_word_shingles('text', CONTAM_K)} AS grams FROM documents),
    probes AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < {N_PROBE_DOCS}),
    corpus AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= {N_PROBE_DOCS})
    SELECT c.doc_id, count(DISTINCT c.gram) AS n_gram_hits
    FROM corpus c JOIN probes p ON c.gram = p.gram
    GROUP BY c.doc_id
    """,
)
def contamination_ngram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing any
    5-word-gram with the held-out probe set (docs 0..N_PROBE_DOCS). The
    decontamination pass every training-data pipeline runs before export.

    Shape (round-16 rework, guide §2.4 "remove shuffles outright"): the
    distinct probe grams collapse to ONE collect_list row that broadcasts
    into a row-local ``array_intersect`` against each corpus doc's
    (already-distinct) gram array — n_gram_hits IS the intersection size,
    so the corpus side needs NO explode, NO gram equi-join shuffle, and
    NO per-doc aggregation: one codegen scan and a length-N_probe hash
    probe per document. Value-identical to the previous explode ->
    broadcast-join -> countDistinct plan (word_shingles emits distinct
    grams, probes are distinct, so the old countDistinct equalled the
    intersection size row-for-row; verified by exceptAll both ways at
    sf0.1 — measured 3.3 s -> 2.3 s, the residual being the gram
    computation itself). At 100 TB the probe-gram array must fit one
    broadcast row (it does by construction: the probe set is the
    held-out benchmark, a fixed few-thousand-gram constant); if it ever
    outgrew that, the fallback is the old gram equi-join, not a bigger
    driver."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select("doc_id", word_shingles(F.col("text"), CONTAM_K).alias("grams"))
    # collect_set replaces distinct().agg(collect_list) (round 17): one
    # partial-aggregatable collapse to the single probe row instead of a
    # distinct exchange FOLLOWED by a single-partition list agg — one
    # fewer exchange, and array_intersect is order- and
    # duplicate-insensitive so the value is identical by construction.
    probe_arr = (
        g.filter(F.col("doc_id") < N_PROBE_DOCS)
        .select(F.explode("grams").alias("gram"))
        .agg(F.collect_set("gram").alias("parr"))
    )
    return (
        g.filter(F.col("doc_id") >= N_PROBE_DOCS)
        .crossJoin(F.broadcast(probe_arr))
        .select(
            "doc_id",
            F.size(F.array_intersect("grams", "parr")).cast("long").alias("n_gram_hits"),
        )
        .filter(F.col("n_gram_hits") > 0)
    )


@REG.add(
    "vocab_top_terms",
    """
    SELECT term, n_docs, total_occurrences
    FROM (
      SELECT term, count(DISTINCT doc_id) AS n_docs, count(*) AS total_occurrences,
             row_number() OVER (ORDER BY count(DISTINCT doc_id) DESC, term) AS rn
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term)
    WHERE rn <= 50
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: the 50 terms with the highest document
    frequency (plus raw occurrence counts) — the report that feeds
    stopword lists and tokenizer-vocab decisions. Explode -> two-level
    hash agg (term, then term x doc distinct) -> global top-50; the final
    ordering only ever sees one row per term."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    counts = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("total_occurrences")
    )
    return (
        counts.orderBy(F.desc("n_docs"), "term")
        .limit(50)
        .select("term", "n_docs", "total_occurrences")
    )


TFIDF_TOP_K = 3


@REG.add(
    "tfidf_top_terms_per_doc",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, rnk FROM (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) DESC,
                        tf.term) AS rnk
      FROM tf JOIN df USING (term) CROSS JOIN n)
    WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def tfidf_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the TFIDF_TOP_K most
    characteristic terms of each doc (smoothed idf = ln((N+1)/(df+1))+1,
    the sklearn convention). Shuffle shape at 100 TB: one explode ->
    (doc_id, term) hash agg for tf; df re-aggregates the tf frame (one
    row per distinct (doc, term), far smaller than the token stream); the
    df join carries NO broadcast hint — a 100 TB corpus's vocabulary can
    be too large to pin into every executor, and AQE already converts the
    join to broadcast at runtime whenever df measures small, while the
    fallback shuffle lands on `term`, the key tf is already partitioned
    by. The per-doc top-k window is the only other shuffle — no hot key.
    Scores from distinct (tf, df) inputs are separated far beyond ulp, so
    the rank is engine-stable; ties share identical doubles on both
    engines and fall to the term tie-break."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n = d.agg(F.count("*").alias("n_docs"))  # 1-row frame, broadcast (lazy)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.col("tf") * (
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc(score), "term")
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", F.round(score, 6).alias("tfidf"), "rnk")
    )


RARE_DF_MAX = 2  # a token is "rare" if it appears in <= 2 documents


@REG.add(
    "token_rarity_scores",
    f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(df) AS DOUBLE) / count(*) AS mean_df,
           CAST(min(df) AS BIGINT) AS min_df,
           CAST(max(df) AS BIGINT) AS max_df,
           CAST(sum(CASE WHEN df <= {RARE_DF_MAX} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_frac
    FROM toks JOIN df USING (term)
    GROUP BY doc_id
    """,
)
def token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-based quality signals per document: each token occurrence is
    weighted by its corpus DOCUMENT FREQUENCY, giving mean/min/max df and
    the fraction of near-hapax tokens (df <= RARE_DF_MAX) per doc — high
    rare_frac flags gibberish/OCR noise/boilerplate-free unique text, low
    mean_df flags template spam. This is the exactly-checkable core of a
    perplexity-style quality score: every statistic is integer counts and
    one int/int division, so the oracle matches bit-for-bit — a unigram
    -mean-log-p score is one `ln` away but transcendental libm results
    differ across engines in the last ulp (documented trade: we surface
    the exact df statistics and leave log-weighting to the consumer).

    Plan: one explode pass -> vocab-sized df agg -> term-keyed join back
    (AQE picks broadcast when the vocab fits, same stance as
    tfidf_top_terms_per_doc) -> per-doc agg. The document text never
    shuffles; the join moves (doc_id, term) pairs keyed on term — at
    100 TB pre-partition both sides on term or maintain df as a
    materialized dictionary table."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        toks.join(df_, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("df").cast("double") / F.count("*")).alias("mean_df"),
            F.min("df").alias("min_df"),
            F.max("df").alias("max_df"),
            (
                F.sum(F.when(F.col("df") <= RARE_DF_MAX, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("rare_frac"),
        )
    )


BM25_TERMS = ["table", "window", "hash"]  # the fixed retrieval query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


@REG.add(
    "bm25_topk_docs",
    f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
      GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             CAST(CAST(CAST(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                            AS DECIMAL(18,6)) AS DOUBLE)
                  * ((tf.tf * {BM25_K1 + 1.0}) /
                     (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
                  AS DECIMAL(18,6)) AS c
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
    SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY sum(c) DESC, doc_id LIMIT {BM25_TOP_K}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: the BM25_TOP_K best documents for a fixed query-term
    set (Okapi BM25, k1/b textbook defaults) — the lexical-search half of
    every retrieval/RAG data pipeline. Shape: the term filter applies
    BEFORE the tf aggregate, so only query-term occurrences (a vanishing
    fraction of the token stream) ever shuffle; df re-aggregates that tiny
    tf frame; doc length and corpus avgdl come from a lengths-only
    projection (one row per doc, 1-row stats frame broadcast). Final
    ordering is a TakeOrdered top-k, never a full sort. Per-term scores
    are computed in double with the identical expression shape on both
    engines, then cast to DECIMAL(18,6) so the per-doc SUM is exact and
    order-independent (registry.py convention).

    Determinism: ln() is the one transcendental here and JVM vs libm can
    differ in the last ulp, which would make the per-row decimal cast a
    rounding-tie lottery across thousands of contrib rows. The IDF is
    therefore QUANTIZED to decimal(18,6) (and back to double) at its
    source — idf has only len(BM25_TERMS) distinct values, so tie
    exposure collapses from per-row to per-term; every downstream
    operand (tf, dl, avgdl ratios) is exact rational arithmetic on
    bit-identical doubles, so the per-row cast rounds identical inputs
    identically."""
    d = load_table(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = (
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        .cast("decimal(18,6)")
        .cast("double")
    )
    tf_norm = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).cast("decimal(18,6)").alias("c"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").alias("c_sum"))
        .orderBy(F.desc("c_sum"), "doc_id")
        .limit(BM25_TOP_K)
        .select("doc_id", F.col("c_sum").cast("double").alias("bm25"))
    )


DUP_K = 8  # gram width for the cross-document duplication signal

# Input-size gate for duplicate_ngram_overlap's per-gram-count shape: at
# or below this parquet footprint the single-derivation gram-key WINDOW
# is both fastest (measured) and safe (a hot gram cannot exceed one
# task's capacity on a corpus this small); above it the skew-immune
# partial-agg + join-back shape runs instead — a window partition keyed
# on gram frequency is unsplittable by AQE, and the boilerplate grams
# this query exists to find are exactly the hot keys. 1 GiB is orders of
# magnitude above every local SF and orders below any production corpus,
# so the bench always measures the window and a cluster always gets the
# bounded shape.
DUP_WINDOW_MAX_BYTES = 1 << 30


@REG.add(
    "duplicate_ngram_overlap",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct({sql_base_hashes(sql_word_shingles('text', DUP_K))})) AS gram
      FROM documents),
    shared AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS dup_share
    FROM g JOIN shared s ON g.gram = s.gram
    GROUP BY g.doc_id
    """,
)
def duplicate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplication signal (the Lee-et-al. "Deduplicating
    Training Data" diagnostic, doc-level): per document, the fraction of
    its distinct DUP_K-word grams that also occur in at least one OTHER
    document. High dup_share marks boilerplate/mirrored text that
    survives exact and near dedup. Because each doc contributes its
    grams DISTINCT, a gram's occurrence count IS its document count — no
    countDistinct needed. The grams shuffle as HASHED 32-bit ints (the
    chargram_jaccard_pairs convention: md5-prefix mod P, identical in
    the DuckDB oracle — bench sf0.1: 3.5 s string path -> int path), so
    the shuffle carries ~4 bytes per gram instead of an 8-word string;
    an in-doc hash collision (~1e-5/doc) shifts n_grams identically on
    both engines.

    Shape is INPUT-SIZE-GATED (round 17, fixing the round-16 form's
    skew story — the r16 docstring claimed the md5-derived gram key has
    "no hot partition", which is wrong: hashing uniformizes key
    PLACEMENT, not key FREQUENCY, and a boilerplate gram occurring in
    half the corpus — the very phenomenon this query detects — lands
    every one of its rows in ONE window partition, which AQE cannot
    split for window functions):

    - at or below ``DUP_WINDOW_MAX_BYTES`` of input, per-gram occupancy
      is ``count(*) over (partition by gram)`` on ONE exploded
      derivation — a single text scan + one gram-keyed sort-shuffle,
      measured fastest at bench scale (interleaved r17 A/B at sf0.1:
      window 1.94 s vs agg+join-back 2.24 s vs ckpt'd join-back
      2.29 s medians) where a hot gram cannot exceed one task's
      capacity anyway;
    - above the gate, the skew-immune shape: per-gram counts via a
      partial-aggregatable groupBy (hot grams combine map-side, so no
      task ever holds a gram's full row set) joined back to the gram
      frame — a shuffle join AQE's skew handling CAN split. The exploded
      frame is derived twice (Spark shares no subplans), the price of
      boundedness at scale.

    The gate reads the parquet footprint from the filesystem
    (control-plane, zero Spark jobs — the cc_alternating_star /
    WIDE_WRITES_ROWS gating idiom) and keys on the INPUT, never on
    runtime state, so both engines stay deterministic. Both shapes are
    value-identical (exceptAll both ways at sf0.1, pinned by
    tests/test_llm_ops.py)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(base_hashes(word_shingles(F.col("text"), DUP_K)))
        ).alias("gram"),
    )
    if table_bytes(spark, sf_dir, "documents") <= DUP_WINDOW_MAX_BYTES:
        g = g.withColumn("n_docs", F.count("*").over(W.partitionBy("gram")))
    else:
        per_gram = g.groupBy("gram").agg(F.count("*").alias("n_docs"))
        g = g.join(per_gram, "gram")
    is_shared = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        g.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(is_shared).alias("n_shared"),
            (F.sum(is_shared).cast("double") / F.count("*")).alias("dup_share"),
        )
    )


SPLIT_TRAIN_MAX = "c"  # md5 first hex char 0..c -> train (13/16 = 81.25%)
SPLIT_VAL_MAX = "e"  # d,e -> val (2/16 = 12.5%); f -> test (1/16 = 6.25%)


def split_assign_expr(doc_id: Column) -> Column:
    """THE canonical split-membership expression (hash-deterministic
    train/val/test) — one definition so audits and assignment can never
    disagree. Used by dataset_split_assign below and by quality.py's
    split_leakage_audit and corpus_pipeline_verdicts."""
    h = F.md5(doc_id.cast("string")).substr(1, 1)
    return (
        F.when(h <= SPLIT_TRAIN_MAX, "train")
        .when(h <= SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )


def sql_split_assign(doc_id: str) -> str:
    """DuckDB twin of split_assign_expr."""
    return (
        f"CASE WHEN substr(md5(CAST({doc_id} AS VARCHAR)), 1, 1) <= '{SPLIT_TRAIN_MAX}' "
        f"THEN 'train' WHEN substr(md5(CAST({doc_id} AS VARCHAR)), 1, 1) <= '{SPLIT_VAL_MAX}' "
        f"THEN 'val' ELSE 'test' END"
    )


@REG.add(
    "dataset_split_assign",
    f"SELECT doc_id, lang, {sql_split_assign('doc_id')} AS split FROM documents",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: split membership is a pure
    function of the document key (first hex char of md5(doc_id) bucketed
    ~81/12.5/6.25), so the same document lands in the same split in every
    job, on every engine, under any partitioning — the reproducibility
    property a 100 TB dataset split needs that rand()-seeded splits do not
    have (rand() is partitioning-dependent in Spark). Zero shuffles: the
    assignment is a row-local expression; downstream writers partition by
    the split column."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", split_assign_expr(F.col("doc_id")).alias("split"))


MIX_TOKEN_BUDGET = 1_000_000  # target token budget the mixture allocates


@REG.add(
    "source_mixing_weights",
    f"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    raw AS (
      SELECT source, n_docs, n_tokens, sqrt(n_tokens) AS raw_w
      FROM per_source),
    tot AS (
      SELECT CAST(sum(CAST(raw_w AS DECIMAL(18,6))) AS DOUBLE) AS total_w
      FROM raw)
    SELECT source, n_docs, n_tokens,
           raw_w / total_w AS weight,
           raw_w / total_w * {MIX_TOKEN_BUDGET} / n_tokens AS epochs
    FROM raw CROSS JOIN tot
    """,
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per corpus source with temperature
    rebalancing — the data-mixing step of an LLM pipeline (the published
    multilingual/temperature-sampling recipe: raise each source's token
    mass to a power < 1 so small sources are upsampled relative to their
    natural share, then renormalize). Exponent fixed at 0.5 (sqrt)
    deliberately: sqrt is IEEE correctly-rounded, so both engines get
    bit-identical raw weights, while pow(x, 0.7) is libm-dependent and
    would flake the value hash. ``epochs`` converts the weight into how
    many passes over a source the MIX_TOKEN_BUDGET implies (>1 means
    upsampled/repeated, <1 means subsampled). Shape: one documents scan
    into a partial-aggregatable (source) agg — sources are few, so the
    normalizing total is a 1-row broadcast frame; everything after the
    scan is driver-trivial. At 100 TB the scan dominates and parallelizes
    per input split; the token count reuses the token_counts whitespace
    tokenizer so mixture mass matches the profiling queries."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    raw = per_source.withColumn("raw_w", F.sqrt(F.col("n_tokens")))
    # normalizing total via an unpartitioned window over the PER-SOURCE
    # frame (<= #sources rows — the pack_sequences tiny-frame idiom), NOT a
    # separate aggregate: a second agg branch re-scans documents (Spark
    # does not dedupe shared subplans), doubling the 100 TB scan
    raw = raw.withColumn(
        "total_w",
        F.sum(F.col("raw_w").cast("decimal(18,6)")).over(W.partitionBy()).cast("double"),
    )
    return raw.select(
        "source", "n_docs", "n_tokens",
        (F.col("raw_w") / F.col("total_w")).alias("weight"),
        (F.col("raw_w") / F.col("total_w") * MIX_TOKEN_BUDGET / F.col("n_tokens")).alias("epochs"),
    )


SAMPLE_P = 2_147_483_647  # hash modulus (2^31 - 1)
SAMPLE_CHARS_AT_P1 = 2000  # docs this long (or longer) are always kept
# CEILING division: floor would leave a 1647-hash sliver of always-keep
# docs droppable (n_chars*floor_scale < SAMPLE_P at exactly 2000 chars)
SAMPLE_SCALE = -(-SAMPLE_P // SAMPLE_CHARS_AT_P1)


@REG.add(
    "length_weighted_sample",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % {SAMPLE_P}
          < least({SAMPLE_P},
                  n_chars * {SAMPLE_SCALE})
    """,
)
def length_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling with EXACT integer arithmetic: keep a
    document with probability proportional to its length (capped at 1 at
    SAMPLE_CHARS_AT_P1 chars) by comparing a 31-bit key hash against an
    integer threshold — the deterministic form of importance sampling a
    training-data pipeline uses to favor long documents. Everything is
    integer (md5-derived hash, integer-division scale factor), so
    membership is bit-identical across engines, runs, and partitionings —
    no pow/exp in sight (the classic u^(1/w) reservoir key needs
    transcendentals whose last-ulp differs between libms; near-threshold
    rows would flake a cross-engine gate). Row-local predicate, zero
    shuffles, trivially pushdown-friendly at 100 TB. Same md5-prefix
    idiom as deterministic_sample / dataset_split_assign
    (relational.py / above)."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % SAMPLE_P
    )
    threshold = F.least(
        F.lit(SAMPLE_P),
        F.col("n_chars") * F.lit(SAMPLE_SCALE),
    )
    return d.filter(h < threshold).select("doc_id", "source", "n_chars")


SHUFFLE_SEED = "epoch1"  # change per epoch for a fresh deterministic order
SHUFFLE_BUCKET_BITS = 6  # 64 hash buckets for the distributed rank


@REG.add(
    "dataset_shuffle_order",
    f"""
    WITH k AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}'), 1, 8)
                  AS BIGINT) AS skey
      FROM documents)
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS shuffle_pos
    FROM k
    """,
)
def dataset_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training data: every document gets
    a global position in a pseudo-random order that is a pure function of
    (doc_id, SHUFFLE_SEED) — the same order on every engine, every run,
    every partitioning, which is what makes a training run reproducible
    and resumable mid-epoch (position N is always the same document; a
    new seed gives an independent order for the next epoch). rand()-based
    orderBy has neither property in Spark.

    Built on the shared ``bucketed_global_rank`` two-pass idiom
    (relational.py): the bucket is the hash key's TOP BITS, which is the
    ideal case for value-derived bucketing — the md5-derived key is
    uniform, so the 64 buckets are balanced by construction (where
    equi_depth_deciles' value buckets inherit data skew). No global
    sort, no sampled range boundaries; the oracle is the single-task
    row_number the engine deliberately avoids."""
    from .relational import bucketed_global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    skey = (
        F.conv(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))).substr(1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("skey")
    )
    keyed = d.select("doc_id", skey)
    bucket = F.shiftright(F.col("skey"), 32 - SHUFFLE_BUCKET_BITS).cast("int")
    ranked = bucketed_global_rank(keyed, bucket, ["skey", "doc_id"], "shuffle_pos")
    return ranked.select("doc_id", "shuffle_pos")


CHUNK_TOKENS = 64  # tokens per chunk
CHUNK_STRIDE = 48  # chunk start stride (CHUNK_TOKENS - CHUNK_STRIDE overlap)


@REG.add(
    "chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
      FROM t)
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(least({CHUNK_TOKENS}, len(toks) - start) AS BIGINT) AS n_chunk_tokens,
           sha256(array_to_string(
             list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')) AS chunk_sha
    FROM s
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunking — the context-window prep
    step of RAG indexing and long-document pretraining: each document is
    cut into CHUNK_TOKENS-token windows whose starts advance by
    CHUNK_STRIDE (so consecutive chunks share CHUNK_TOKENS-CHUNK_STRIDE
    tokens of overlap and no token falls in a gap); the final chunk is
    the natural remainder. Each chunk reports its index, its true token
    count, and a sha256 of the chunk text (the digest pins the exact
    token content against the oracle without shipping the text — the
    pii_redact technique). Pure generate-and-explode over row-local
    arrays: zero shuffles, embarrassingly parallel, output size a fixed
    ~CHUNK_TOKENS/CHUNK_STRIDE multiple of the corpus — the ideal 100 TB
    shape (the scan dominates; chunks stream straight to the shard
    writer). Both engines slice past the array end identically (clamped),
    so the remainder chunk needs no special case."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    return s.select(
        "doc_id",
        F.expr(f"start DIV {CHUNK_STRIDE}").cast("long").alias("chunk_idx"),
        F.least(F.lit(CHUNK_TOKENS), F.size("toks") - F.col("start"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.sha2(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS))
            ),
            256,
        ).alias("chunk_sha"),
    )


BIGRAM_TOP_K = 20  # bigrams reported per language
BIGRAM_SALT_BUCKETS = 16  # partial-top-K fan-in (see docstring)


@REG.add(
    "bigram_lm_probs",
    f"""
    WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT lang,
             unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
      FROM toks WHERE len(t) >= 2),
    c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
    w AS (
      SELECT lang, gram, cnt,
             CAST(sum(cnt) OVER (PARTITION BY lang, split_part(gram, ' ', 1))
                  AS BIGINT) AS w1_total
      FROM c),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY cnt DESC, gram) AS rnk
      FROM w)
    SELECT lang, gram, cnt, w1_total,
           CAST(cnt AS DOUBLE) / w1_total AS cond_prob
    FROM r WHERE rnk <= {BIGRAM_TOP_K}
    """,
)
def bigram_lm_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics — the classic data-quality /
    perplexity-proxy signal (KenLM-style counts, MLE form): per language,
    the BIGRAM_TOP_K most frequent token bigrams with their count, the
    count of their leading unigram as continuation mass, and the
    conditional probability P(w2|w1) = cnt/w1_total (exact integer
    division → engine-deterministic double; no smoothing so the oracle
    is arithmetic-free).

    Shapes, at 100 TB: the bigram explode shuffles on (lang, gram) into a
    partial-aggregatable count — uniform key space, no hot key; the
    gram-count frame is ``ckpt``-ed because two consumers branch from it
    and Spark shares no subplans (without it the corpus explodes twice).
    The top-K CANNOT be a bare per-lang window (5 languages →
    row_number would drag each language's whole distinct-bigram
    distribution through one task). It runs as exact two-phase top-K:
    phase 1 ranks within (lang, salt) where salt = hash(gram) %
    BIGRAM_SALT_BUCKETS — any global top-K member is necessarily top-K
    in its salt bucket — keeping ≤ salt·K candidates per language;
    phase 2 ranks those few rows globally per language. Continuation
    mass w1_total is a hash AGGREGATE to (lang, w1) — partial-combined,
    no sort — joined onto the ≤ langs·K ranked rows (the ranked side
    broadcasts); a sort-window over the full gram frame would pay a
    per-partition sort just to annotate rows the rank then throws
    away."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    grams = t.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(2))),
            )
        ).alias("gram"),
    )
    c = ckpt(
        grams.groupBy("lang", "gram").agg(F.count("*").cast("long").alias("cnt"))
    )
    w1 = F.substring_index(F.col("gram"), " ", 1)
    w1tot = c.groupBy("lang", w1.alias("w1")).agg(
        F.sum("cnt").cast("long").alias("w1_total")
    )
    # exact two-phase top-K: per-salt partial rank prunes to salt*K rows
    # per language before the tiny global rank
    salt = F.pmod(F.xxhash64("gram"), F.lit(BIGRAM_SALT_BUCKETS))
    partial = c.withColumn(
        "prnk",
        F.row_number().over(
            W.partitionBy("lang", salt).orderBy(F.col("cnt").desc(), "gram")
        ),
    ).filter(F.col("prnk") <= BIGRAM_TOP_K)
    ranked = partial.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.col("cnt").desc(), "gram")
        ),
    ).filter(F.col("rnk") <= BIGRAM_TOP_K)
    return (
        F.broadcast(ranked.withColumn("w1", w1))
        .join(w1tot, ["lang", "w1"])
        .select(
            "lang", "gram", "cnt", "w1_total",
            (F.col("cnt").cast("double") / F.col("w1_total")).alias("cond_prob"),
        )
    )


def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own per-language
    bigram MLE — the CCNet-style quality signal: a document whose token
    transitions are typical of its language scores low, boilerplate/
    gibberish scores high. Because the model is trained on the SAME
    corpus it scores, every document bigram has corpus count >= 1, so
    unsmoothed MLE needs no backoff and the probability is an exact
    integer ratio.

    cross_entropy = -(1/n) * sum ln P(w2|w1), summed position-ascending
    (sequential fold, engine-identical order); the single ln() is the
    one transcendental, tolerated because the FINAL per-doc mean is
    rounded to 6 dp (a 1-ulp libm divergence on one term is ~1e-16
    relative — far below the rounding quantum; the BM25 precedent
    quantizes earlier only because ranks, not values, were at stake).

    Shapes at 100 TB: gram counts and leading-unigram totals are
    partial-aggregatable hash aggs on uniform (lang, gram) keys; the
    doc-grams-to-model join hash-partitions both sides on the same key
    (no broadcast needed, no skew — gram frequencies are Zipfian but the
    join key includes the gram itself, so the hottest key is one gram's
    rows, bounded by docs containing it); the per-doc fold is a
    collect_list over n_bigrams elements of its own document only."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    gram_of = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(2))),
    )
    dg = d.select("doc_id", "lang", F.posexplode(gram_of).alias("pos", "gram"))
    c = ckpt(dg.groupBy("lang", "gram").agg(F.count("*").cast("long").alias("cnt")))
    w1 = F.substring_index(F.col("gram"), " ", 1)
    w1tot = c.groupBy("lang", w1.alias("w1")).agg(
        F.sum("cnt").cast("long").alias("w1_total")
    )
    model = c.withColumn("w1", w1).join(w1tot, ["lang", "w1"])
    scored = dg.join(model, ["lang", "gram"]).select(
        "doc_id",
        "pos",
        F.log(F.col("cnt").cast("double") / F.col("w1_total")).alias("logp"),
    )
    by_pos = F.array_sort(F.collect_list(F.struct("pos", "logp")))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                -F.aggregate(
                    F.transform(by_pos, lambda s: s["logp"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count("*"),
                6,
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# Oracle for doc_perplexity_bigram (registered round 6, below).
# The gram derivation, MLE ratio, position-ascending fold, and final
# 6-dp rounding all mirror the engine; ln() is the documented 1-ulp
# tolerance absorbed by the rounding.
_PPL_ORACLE = """
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    dg AS (
      SELECT doc_id, lang, pos,
             concat(t[pos], ' ', t[pos + 1]) AS gram
      FROM d CROSS JOIN unnest(range(1, len(t))) AS r(pos)),
    c AS (SELECT lang, gram, count(*) AS cnt FROM dg GROUP BY lang, gram),
    w1tot AS (
      SELECT lang, split_part(gram, ' ', 1) AS w1, sum(cnt) AS w1_total
      FROM c GROUP BY lang, split_part(gram, ' ', 1)),
    model AS (
      SELECT c.lang, c.gram, c.cnt, w.w1_total
      FROM c JOIN w1tot w
        ON c.lang = w.lang AND split_part(c.gram, ' ', 1) = w.w1),
    scored AS (
      SELECT dg.doc_id, dg.pos,
             ln(m.cnt::DOUBLE / m.w1_total) AS logp
      FROM dg JOIN model m ON dg.lang = m.lang AND dg.gram = m.gram)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-list_reduce(list(logp ORDER BY pos), (x, y) -> x + y)
                 / count(*), 6) AS cross_entropy
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """

REG.add("doc_perplexity_bigram", _PPL_ORACLE)(doc_perplexity_bigram)
