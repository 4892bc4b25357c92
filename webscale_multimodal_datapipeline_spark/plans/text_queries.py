"""Text-operator queries over the ``documents`` table (SURVEY §7 step 3 +
the training-pipeline text-analysis extensions).

Covers: TextLengthFilter (F2), URLFilter semantics (F1: blocklist +
word-score + quality-source exclusion), text stats / quality scoring,
language-ID, token counting, fingerprinting.

Everything is a native column expression — at 100 TB these run inside
whole-stage codegen with the filters pushed at the scan; the reference's
20K rec/s Python URL scoring becomes a JVM regex over a scanned column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.functions import text as TX
from webscale_multimodal_datapipeline_spark.operators import filters as OF
from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ

BLOCKLIST = ("src1", "src7")
QUALITY_SOURCES = ("src3",)
SCORE_THRESHOLD = 0.5


def t_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: keep 100 <= n_chars <= 400 (precomputed length column preferred,
    ``text_length_filter.py:43-57``)."""
    d = load_table(spark, sf_dir, "documents")
    op = OF.text_length_filter(100, 400, length_col="n_chars")
    return op.apply(d).select("doc_id", "n_chars", "lang")


T_LENGTH_SQL = """
SELECT doc_id, n_chars, lang FROM documents WHERE n_chars BETWEEN 100 AND 400
"""


def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-stats refiner output (length/tokens/punct/stopword/word-length)."""
    from webscale_multimodal_datapipeline_spark.operators.refiners import text_stats_refiner

    d = load_table(spark, sf_dir, "documents")
    return text_stats_refiner().apply(d).select(
        "doc_id",
        "text_length",
        "token_count",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_length",
    )


T_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS text_length,
       CAST({OQ.sql_token_count('text')} AS BIGINT) AS token_count,
       CAST({OQ.sql_punct_ratio('text')} AS DOUBLE) AS punct_ratio,
       CAST({OQ.sql_stopword_ratio('text')} AS DOUBLE) AS stopword_ratio,
       CAST({OQ.sql_mean_word_length('text')} AS DOUBLE) AS mean_word_length
FROM documents
"""


def t_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality-score filter (keep score >= 0.5) + the score."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("quality_score", TX.quality_score("text").cast("double"))
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "quality_score")
    )


T_QUALITY_SQL = f"""
SELECT doc_id, CAST(q AS DOUBLE) AS quality_score
FROM (SELECT doc_id, {OQ.sql_quality_score('text')} AS q FROM documents)
WHERE q >= 0.5
"""


def t_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 semantics on (source, text): blocklist + word-score threshold +
    quality-source exclusion (``url_filter.py:284-321``)."""
    d = load_table(spark, sf_dir, "documents")
    op = OF.url_filter(
        source_col="source",
        text_col="text",
        blocklist=BLOCKLIST,
        quality_sources=QUALITY_SOURCES,
        score_threshold=SCORE_THRESHOLD,
    )
    return op.apply(d).select("doc_id", "source")


T_URL_SQL = f"""
SELECT doc_id, source FROM documents
WHERE (source NOT IN ('src1', 'src7')
       AND source NOT IN ('src3')
       AND {OQ.sql_word_score('text')} < 0.5)
   OR source IS NULL
"""


def t_word_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL word-score itself (0.8*max(weight) + min(total/3, 0.2),
    ``url_filter.py:255-282``)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", OF.word_score("text").cast("double").alias("word_score")
    )


T_WORDSCORE_SQL = f"""
SELECT doc_id, CAST({OQ.sql_word_score('text')} AS DOUBLE) AS word_score
FROM documents
"""


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion counts."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("lang_pred", TX.lang_id("text"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


T_LANG_SQL = f"""
SELECT lang, {OQ.sql_lang_id('text')} AS lang_pred, COUNT(*) AS n
FROM documents GROUP BY 1, 2
"""


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-backed 60-bit document fingerprint (dedup-key material)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


T_FP_SQL = f"""
SELECT doc_id, {OQ.sql_md5_long(OQ.sql_norm('text'))} AS fingerprint
FROM documents
"""


def t_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source aggregate over refined columns (the reference's metrics
    report group-by shape, ``metrics/reporter.py:689-701``)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("token_count", TX.token_count("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("token_count").cast("bigint")).alias("total_tokens"),
            F.sum(F.col("n_chars")).alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


T_SOURCE_SQL = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM({OQ.sql_token_count('text')}) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


QUERIES = {
    "t_length_filter": t_length_filter,
    "t_text_stats": t_text_stats,
    "t_quality_filter": t_quality_filter,
    "t_url_filter": t_url_filter,
    "t_word_score": t_word_score,
    "t_lang_id": t_lang_id,
    "t_fingerprint": t_fingerprint,
    "t_source_stats": t_source_stats,
}

ORACLE = {
    "t_length_filter": T_LENGTH_SQL,
    "t_text_stats": T_STATS_SQL,
    "t_quality_filter": T_QUALITY_SQL,
    "t_url_filter": T_URL_SQL,
    "t_word_score": T_WORDSCORE_SQL,
    "t_lang_id": T_LANG_SQL,
    "t_fingerprint": T_FP_SQL,
    "t_source_stats": T_SOURCE_SQL,
}


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb-style repetition quality signals: distinct-token
    ratio and top-token frequency per document, via explode -> per-token
    counts -> per-doc re-aggregation (fully relational — the shape that
    distributes at 100 TB, unlike per-row n^2 scans)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            F.round(F.col("top_count") / F.col("n_tokens"), 6).alias("top_token_freq"),
        )
    )


T_REPETITION_SQL = f"""
SELECT doc_id, n_tokens,
       ROUND(n_distinct / n_tokens, 6) AS distinct_ratio,
       ROUND(top_count / n_tokens, 6) AS top_token_freq
FROM (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest({OQ.sql_tokens('text')}) AS tok FROM documents)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
"""

QUERIES["t_repetition"] = t_repetition
ORACLE["t_repetition"] = T_REPETITION_SQL


def t_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample: hash-mod on the stable id, the
    reproducible-at-any-scale sampling idiom (no RNG, no partitioning
    dependence — re-runs and other engines select the SAME rows)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(TX.md5_long(F.col("doc_id").cast("string")), F.lit(100))
    return d.filter(bucket < 10).select("doc_id", "source", "lang")


T_HASH_SAMPLE_SQL = f"""
SELECT doc_id, source, lang FROM documents
WHERE {OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < 10
"""


def t_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by id-hash bucket) —
    per-source split-size audit, the pre-training bookkeeping query."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(TX.md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


T_SPLIT_SQL = f"""
SELECT source,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT source, n_chars,
             {OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100 AS b
      FROM documents)
GROUP BY 1, 2
"""

QUERIES["t_hash_sample"] = t_hash_sample
QUERIES["t_dataset_split"] = t_dataset_split
ORACLE["t_hash_sample"] = T_HASH_SAMPLE_SQL
ORACLE["t_dataset_split"] = T_SPLIT_SQL


def t_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. 2021 §A1.1 /
    FineWeb heuristics): per-rule pass booleans + the conjunctive keep
    flag. Runs the one-pass Arrow kernel (``gopher_flags_column``,
    653K rec/s at 1M rows vs 100K for the column-expression spec) — the
    oracle mirrors the ``TX.gopher_flags`` column spec, so the driver's
    value-hash gate pins kernel == spec cross-engine."""
    from webscale_multimodal_datapipeline_spark.operators.filters import (
        gopher_flags_column,
    )

    d = load_table(spark, sf_dir, "documents")
    flag_cols = list(TX.gopher_flags("text")) + ["keep"]
    return gopher_flags_column(d, "text").select("doc_id", *flag_cols)


def _gopher_sql() -> str:
    flags = OQ.sql_gopher_flags("text")
    cols = ",\n       ".join(f"{expr} AS {nm}" for nm, expr in flags.items())
    keep = " AND ".join(flags.values())
    return f"SELECT doc_id,\n       {cols},\n       ({keep}) AS keep\nFROM documents"


T_GOPHER_SQL = _gopher_sql()

QUERIES["t_gopher_rules"] = t_gopher_rules
ORACLE["t_gopher_rules"] = T_GOPHER_SQL


def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (C4/FineWeb practice; no reference analog — §2-adjacent
    training-data op): the corpus has no real PII, so the query embeds a
    deterministic email/phone/IP per row derived from doc_id — both engines
    build the identical string — then counts and redacts. Pure regexp
    column expressions, narrow, codegen'd."""
    from webscale_multimodal_datapipeline_spark.functions import pii as PII

    d = load_table(spark, sf_dir, "documents")
    inp = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 :: "), F.col("text"),
    )
    counts = PII.pii_counts(inp)
    return d.select(
        "doc_id",
        *[c.cast("int").alias(nm) for nm, c in counts.items()],
        PII.redact_pii(inp).alias("redacted"),
    )


def _pii_sql() -> str:
    from webscale_multimodal_datapipeline_spark.functions import pii as PII

    # || not concat(): DuckDB's concat() IGNORES NULL args, so a NULL text
    # would still carry the synthetic PII while Spark's F.concat nulls the
    # whole input (ARCHITECTURE section 28)
    inp = (
        "('contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or +1 555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 :: ' || text)"
    )
    counts = PII.sql_pii_counts(inp)
    cols = ",\n       ".join(
        f"CAST({expr} AS INTEGER) AS {nm}" for nm, expr in counts.items()
    )
    return (
        f"SELECT doc_id,\n       {cols},\n"
        f"       {PII.sql_redact_pii(inp)} AS redacted\nFROM documents"
    )


T_PII_SQL = _pii_sql()

QUERIES["t_pii_redact"] = t_pii_redact
ORACLE["t_pii_redact"] = T_PII_SQL


def t_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling (DoReMi / The Pile practice; no
    reference analog): each source domain gets a target weight and rows are
    deterministically up-/down-sampled to hit it — downsampling drops rows
    by hash coin, upsampling emits floor(w) copies plus a hash-Bernoulli
    extra, so the expected multiplicity is exactly w and reruns are
    reproducible cross-engine (no RNG).

    Weights here derive from the source id (0.5/1.0/1.5/2.0 by
    ``src_num % 4``) so the query is self-contained. Scale shape: narrow
    per-row math + explode; no shuffle at all.
    """
    d = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    w = (F.lit(0.5) + F.lit(0.5) * (src_num % 4)).alias("w")
    u = (TX.md5_long(F.concat_ws("|", F.col("doc_id").cast("string"), "source"))
         % 1000000) / 1000000.0
    copies = (F.floor(w) + F.when(u < w - F.floor(w), 1).otherwise(0)).cast("int")
    return (
        d.withColumn("_n", copies)
        .filter(F.col("_n") >= 1)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .select("doc_id", "source", "copy_idx",
                F.col("_n").cast("int").alias("n_copies"))
    )


def _domain_mix_sql() -> str:
    w = "(0.5 + 0.5 * (CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) % 4))"
    key = "concat_ws('|', CAST(doc_id AS VARCHAR), source)"
    u = f"({OQ.sql_md5_long(key)} % 1000000) / 1000000.0"
    copies = f"CAST(FLOOR({w}) + (CASE WHEN {u} < {w} - FLOOR({w}) THEN 1 ELSE 0 END) AS INTEGER)"
    return f"""
WITH sized AS (
  SELECT doc_id, source, {copies} AS n_copies FROM documents
)
SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy_idx, n_copies
FROM sized WHERE n_copies >= 1
"""


T_DOMAIN_MIX_SQL = _domain_mix_sql()

QUERIES["t_domain_mix"] = t_domain_mix
ORACLE["t_domain_mix"] = T_DOMAIN_MIX_SQL


def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (FineWeb-edu classifier practice; no
    reference analog — training-pipeline extension): hashed-token linear
    model — see :func:`functions.text.hashed_quality_clf` for the exact
    cross-engine-deterministic formulation.

    Scale shape: pure per-row array math inside whole-stage codegen — no
    shuffle, no UDF, no weight broadcast (the 'table' is an expression).
    """
    d = load_table(spark, sf_dir, "documents")
    # md5 lane: the cross-engine oracle spec (production default is the
    # xxhash64 lane — same model, JVM-native bucket hash).
    cols = TX.hashed_quality_clf("text", algo="md5")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def _quality_classifier_sql() -> str:
    toks = f"list_slice({OQ.sql_tokens(OQ.sql_norm('text'))}, 1, {TX.CLF_MAX_TOKENS})"
    bucket = f"({OQ.sql_md5_long('x')} % {TX.CLF_BUCKETS})"
    milli = f"list_transform({toks}, x -> ({bucket} * {TX.CLF_MIX}) % 2000001 - 1000000)"
    return f"""
WITH m AS (
  SELECT doc_id, {milli} AS milli FROM documents
), agg AS (
  SELECT doc_id, len(milli) AS n,
         CASE WHEN milli IS NULL THEN NULL
              ELSE CAST(coalesce(list_aggregate(milli, 'sum'), 0) AS BIGINT)
         END AS s
  FROM m
), raw AS (
  SELECT doc_id, n, s,
         CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
              ELSE 0.0 END AS raw
  FROM agg
)
SELECT doc_id, CAST(n AS INTEGER) AS n_scored_tokens,
       round(0.5 + 0.5 * raw / (1.0 + abs(raw)), 4) AS clf_score,
       s > 0 AS keep
FROM raw
"""
# NULL text contract, mirroring the Spark expression exactly: n and keep
# are NULL (size/sum of a NULL array) but clf_score is 0.5 — the `raw`
# CASE's ELSE catches the NULL-n row and pins raw to 0.0 in both engines.
# keep mirrors Spark's `s > 0` (NOT `raw > 0`: equivalent only when n is
# non-NULL — the raw form turned the NULL-text keep into FALSE). The `s`
# NULL branch is needed because coalesce(...,0) exists for EMPTY lists
# (list_aggregate([], 'sum') is NULL) and must not swallow the NULL case


T_CLASSIFIER_SQL = _quality_classifier_sql()

QUERIES["t_quality_classifier"] = t_quality_classifier
ORACLE["t_quality_classifier"] = T_CLASSIFIER_SQL


# ---------------------------------------------------------------------------
# TF-IDF top terms per document (search-index / keyword-extraction shape)
# ---------------------------------------------------------------------------


def t_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document, ranked by (tf DESC,
    df ASC, term) — the tf-idf ordering with the idf monotonicity made
    exact-integer (no float log in the ranking, so the oracle pins it
    bit-for-bit).

    Plan shape: explode → (doc, term) counts → term document-frequency
    (partial-agg combinable) joined back → per-doc top-k window over
    ≤ tokens/doc rows. The DF table is vocabulary-sized — at web scale
    that is 10⁸+ terms (tens of GB), NOT broadcast-safe, so the join
    carries no hint (same policy as t_bigram_pmi); AQE picks broadcast
    only when the measured size allows. Both join sides derive from the
    tf aggregate, so at 100 TB persist/checkpoint tf to make the
    explode+count pass run once instead of twice (cheap here; the pass
    is the dominant cost at scale)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(TX.norm_tokens("text")).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", F.col("rnk").cast("int").alias("rnk"))
    )


T_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3
"""

QUERIES["t_tfidf_topterms"] = t_tfidf_topterms
ORACLE["t_tfidf_topterms"] = T_TFIDF_SQL


# ---------------------------------------------------------------------------
# Dictionary-encoded tokenization (vocab broadcast -> id sequences)
# ---------------------------------------------------------------------------


def t_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id sequences: build a deterministic vocabulary (term →
    dense id by (count DESC, term)) and re-encode every document as its
    id sequence in original token order (OOV → -1 — here only when a
    vocab cap is applied).

    The tokenizer-encode step every training pipeline runs before
    packing. Scale shape: web-scale term space is 1e8+ distinct terms,
    so neither a global unpartitioned rank window nor a vocab broadcast
    survives 100×. The dense rank is computed with the range-repartition
    + broadcast-offset pattern (``x_acctbal_deciles``): range-partition
    the vocab on the rank key so partition ids are globally ordered,
    rank locally, and add tiny per-partition count offsets (triangular
    self-join over the P-row histogram). The re-encode is a plain
    shuffle join on ``term`` — AQE converts it to broadcast on its own
    when the vocabulary is genuinely small."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(TX.norm_tokens("text")).alias(
            "pos", "term"
        ),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    num_parts = 32  # at cluster scale: ≈ the vocab's shuffle parallelism
    ranged = counts.repartitionByRange(
        num_parts, F.col("cnt").desc(), F.col("term").asc()
    ).withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # Materialized ONCE (round 8, found by the sf1 sweep): the range
    # exchange's boundary sampling is not guaranteed identical across
    # the plan's branches, so hist/offsets and the window could see
    # DIFFERENT _pid assignments — global ranks then collide/gap and
    # the buckets go uneven. Freezing the ranged frame makes every
    # branch read the same partition assignment (and saves the second
    # corpus shuffle the window branch otherwise re-runs).
    hist = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offs = (
        hist.alias("l")
        .join(hist.alias("r"), F.col("r._pid") < F.col("l._pid"), "left")
        .groupBy(F.col("l._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("r._cnt"), F.lit(0)).alias("_off"))
    )
    wl = Window.partitionBy("_pid").orderBy(F.col("cnt").desc(), F.col("term").asc())
    vocab = (
        ranged.withColumn("_lr", F.row_number().over(wl))
        .join(F.broadcast(offs), "_pid")
        .select("term", (F.col("_off") + F.col("_lr")).cast("int").alias("tok_id"))
    )
    encoded = (
        toks.join(vocab, "term", "left")
        .withColumn("tok_id", F.coalesce("tok_id", F.lit(-1)))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                    lambda s: s["tok_id"].cast("string"),
                ),
                ",",
            ).alias("ids_csv"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return encoded.select("doc_id", "ids_csv", F.col("n_tokens").cast("bigint").alias("n_tokens"))


T_TOKENIZE_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.term, t.pos FROM (
    SELECT doc_id,
           unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term,
           generate_subscripts({OQ.sql_tokens(OQ.sql_norm('text'))}, 1) AS pos
    FROM documents
  ) AS t(doc_id, term, pos)
), vocab AS (
  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS INT) AS tok_id
  FROM toks GROUP BY term
)
SELECT toks.doc_id,
       string_agg(CAST(COALESCE(vocab.tok_id, -1) AS VARCHAR), ',' ORDER BY toks.pos) AS ids_csv,
       COUNT(*) AS n_tokens
FROM toks LEFT JOIN vocab USING (term)
GROUP BY toks.doc_id
"""

QUERIES["t_tokenize_ids"] = t_tokenize_ids
ORACLE["t_tokenize_ids"] = T_TOKENIZE_SQL


# ---------------------------------------------------------------------------
# Inverted index build (search-index posting lists)
# ---------------------------------------------------------------------------


def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists for mid-frequency terms (5 <= df <= 50): term →
    ordered doc-id list — the search-index build as one explode + two
    groupBys; posting lists stay bounded because high-df stopword-ish
    terms are excluded up front (the classic index-build guard)."""
    d = load_table(spark, sf_dir, "documents")
    postings = (
        d.select(
            "doc_id",
            F.explode(TX.norm_tokens("text")).alias(
                "term"
            ),
        )
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d_: d_.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )
    return postings.filter(F.col("df").between(5, 50)).select(
        "term", F.col("df").cast("bigint").alias("df"), "postings"
    )


T_INVIDX_SQL = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term
  FROM documents
)
SELECT term, COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM terms GROUP BY term HAVING COUNT(*) BETWEEN 5 AND 50
"""

QUERIES["t_inverted_index"] = t_inverted_index
ORACLE["t_inverted_index"] = T_INVIDX_SQL


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy (model-free quality scoring)
# ---------------------------------------------------------------------------


def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score without a model: train a corpus
    unigram LM (one aggregation pass) and score every document by its
    mean token log-probability — the KenLM-style filter signal
    (CCNet/RefinedWeb use a real LM; the unigram version is the standard
    model-free stand-in) with no model artifact to ship. Low scores =
    rare-token-heavy documents (gibberish, boilerplate codes, OCR noise).

    Scale shape: explode → vocab frequency aggregate (map-side
    combinable) → plain shuffle join back on ``term`` (AQE broadcasts it
    only if the vocabulary is genuinely small — web-scale term space is
    1e8+, so no forced broadcast) → per-doc aggregate. Two shuffles plus
    one join; the 1-row corpus-total side IS bounded, so its cross join
    broadcasts for free.

    Float parity: per-token logprob is rounded to 4 decimals and
    accumulated as DECIMAL (exact, order-independent), divided and
    re-rounded only at the end — the repo's standard oracle-parity
    discipline for transcendental math.
    """
    d = load_table(spark, sf_dir, "documents")
    # Deliberately TWO evaluations of the tokenize subtree (one per
    # branch): the r10 shared-exchange rewrite (see t_bigram_logprob) was
    # A/B-measured SLOWER here (1.34 s vs 1.07 s idle, 4-pass min) —
    # unigram tokens repeat heavily, so the freq branch's map-side
    # combine shrinks its exchange to the vocabulary while the shared
    # raw-stream exchange cannot; tokenization is cheap relative to that.
    toks = d.select(
        "doc_id",
        F.explode(TX.norm_tokens("text")).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lm = freq.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 4)
        .cast("decimal(18,4)")
        .alias("lp"),
    )
    return (
        toks.join(lm, "term")
        .groupBy("doc_id")
        .agg(F.sum("lp").alias("_sum_lp"), F.count(F.lit(1)).alias("n_tokens"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            # round at INTEGER resolution in 1e-4 units: scaled ROUND(x, 4)
            # of a double quotient takes engine-specific double-rounding
            # paths (diverged by one 1e-4 unit at sf0.1); ROUND(x) of the
            # same IEEE double is tie-ruled identically in both engines,
            # and the final /10000.0 of an integer-valued double is exact.
            (
                F.round(
                    (F.col("_sum_lp") * 10000).cast("bigint").cast("double")
                    / F.col("n_tokens"),
                    0,
                )
                / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


T_UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term
  FROM documents
), freq AS (
  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
), lm AS (
  SELECT term,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM freq)), 4)
              AS DECIMAL(18,4)) AS lp
  FROM freq
)
SELECT toks.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(CAST(SUM(lm.lp) * 10000 AS BIGINT) AS DOUBLE) / COUNT(*))
         / 10000.0 AS avg_logprob
FROM toks JOIN lm USING (term)
GROUP BY toks.doc_id
"""

QUERIES["t_unigram_logprob"] = t_unigram_logprob
ORACLE["t_unigram_logprob"] = T_UNIGRAM_SQL


# ---------------------------------------------------------------------------
# Document chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 200
CHUNK_OVERLAP = 50
_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks per document (200 chars,
    50 overlap) — the retrieval/context-window preparation step every
    RAG or long-context pipeline runs between curation and embedding.

    Row-local: chunk starts come from ``sequence`` + ``explode`` and each
    chunk is one ``substring`` — no UDF, no shuffle beyond the explode's
    row multiplication. Chunk count is exact-integer ceil math, floored
    at one chunk per non-empty document (the tail chunk may be short)."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.lit(1),
        F.floor(
            (F.length("text") - CHUNK_OVERLAP + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE
        ),
    ).cast("int")
    chunks = d.filter(F.length("text") > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
        F.col("text"),
    )
    chunk_text = F.substring(
        F.col("text"), F.col("chunk_index") * _CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return chunks.select(
        "doc_id",
        "chunk_index",
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).cast("bigint").alias("chunk_len"),
    )


T_CHUNK_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         GREATEST(1, (length(text) - {CHUNK_OVERLAP} + {_CHUNK_STRIDE} - 1)
                       // {_CHUNK_STRIDE}) AS n_chunks
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       substring(text, CAST(i AS INT) * {_CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text,
       CAST(length(substring(text, CAST(i AS INT) * {_CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
            AS BIGINT) AS chunk_len
FROM base, LATERAL unnest(range(n_chunks)) AS t(i)
"""

QUERIES["t_chunk_documents"] = t_chunk_documents
ORACLE["t_chunk_documents"] = T_CHUNK_SQL


# ---------------------------------------------------------------------------
# Bigram collocations (PMI)
# ---------------------------------------------------------------------------


def t_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram collocations: adjacent-token pairs with count >= 5,
    their unigram counts, and pointwise mutual information — the
    phrase-mining signal (new-term discovery, tokenizer-merge candidates).

    Ranking and filtering are ALL exact-integer (count-based); PMI is
    emitted as a rounded display value only, so the one transcendental
    never decides membership or order. Adjacent pairs are built
    row-locally (zipped-slice explode — no self-join; see
    ``_adjacent_pairs``). Two aggregates + two joins on the vocabulary —
    the unigram side is NOT force-broadcast (web-scale vocab), AQE
    decides."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(TX.norm_tokens("text")).alias("term"),
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    n_total = uni.agg(F.sum("c1").alias("n"))
    bi = (
        _adjacent_pairs(d)
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    out = (
        bi.join(uni.select(F.col("term").alias("term_a"), F.col("c1").alias("c_a")), "term_a")
        .join(uni.select(F.col("term").alias("term_b"), F.col("c1").alias("c_b")), "term_b")
        .crossJoin(F.broadcast(n_total))
    )
    return out.select(
        "term_a",
        "term_b",
        "c_ab",
        "c_a",
        "c_b",
        F.round(
            F.log(
                (F.col("c_ab") * F.col("n")).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            ),
            4,
        ).alias("pmi"),
    )


T_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.term, t.pos FROM (
    SELECT doc_id,
           unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term,
           generate_subscripts({OQ.sql_tokens(OQ.sql_norm('text'))}, 1) AS pos
    FROM documents
  ) AS t(doc_id, term, pos)
), uni AS (
  SELECT term, COUNT(*) AS c1 FROM toks GROUP BY term
), bi AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS c_ab
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT bi.term_a, bi.term_b, bi.c_ab, ua.c1 AS c_a, ub.c1 AS c_b,
       ROUND(ln(CAST(bi.c_ab * (SELECT SUM(c1) FROM uni) AS DOUBLE)
                / (ua.c1 * ub.c1)), 4) AS pmi
FROM bi JOIN uni ua ON bi.term_a = ua.term JOIN uni ub ON bi.term_b = ub.term
"""

QUERIES["t_bigram_pmi"] = t_bigram_pmi
ORACLE["t_bigram_pmi"] = T_BIGRAM_SQL


# ---------------------------------------------------------------------------
# Flesch reading-ease (readability scoring)
# ---------------------------------------------------------------------------


def t_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring: Flesch reading-ease over whitespace words,
    sentence-ending punctuation runs, and a vowel-group syllable proxy
    (every word at least one syllable — ``greatest(words, vowel_groups)``).
    The standard corpus-quality signal alongside Gopher rules: very low
    FRE flags legalese/OCR junk, very high flags fragment spam.

    Everything is a codegen'd regexp count over the scanned column — one
    pass, no shuffle, no UDF. FRE itself is emitted at 1e-2 integer
    resolution (the ``t_unigram_logprob`` rounding discipline: ROUND of
    an identical IEEE double, then an exact /100).
    """
    d = load_table(spark, sf_dir, "documents")
    parts = TX.flesch_parts("text")
    return (
        d.filter(parts["n_words"] > 0)
        .select(
            "doc_id",
            parts["n_words"].cast("bigint").alias("n_words"),
            parts["n_sentences"].cast("bigint").alias("n_sentences"),
            parts["n_syllables"].cast("bigint").alias("n_syllables"),
            parts["fre"].alias("fre"),
        )
    )


T_FLESCH_SQL = """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+')) AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
         greatest(len(regexp_extract_all(text, '\\S+')),
                  len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CAST(ROUND((206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)) * 100)
            AS BIGINT) / 100.0 AS fre
FROM c WHERE n_words > 0
"""

QUERIES["t_flesch_reading_ease"] = t_flesch_reading_ease
ORACLE["t_flesch_reading_ease"] = T_FLESCH_SQL


# ---------------------------------------------------------------------------
# Bigram-LM document scoring (conditional-logprob perplexity proxy)
# ---------------------------------------------------------------------------


def _adjacent_pairs(d: DataFrame) -> DataFrame:
    """(doc_id, term_a, term_b) for every adjacent token pair — built
    row-locally via zipped slices (no self-join, no shuffle)."""
    return (
        d.select("doc_id", TX.norm_tokens("text").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(t, 1, greatest(size(t)-1, 0))"),
                    F.expr("slice(t, 2, greatest(size(t)-1, 0))"),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg")["0"].alias("term_a"),
            F.col("bg")["1"].alias("term_b"),
        )
    )


def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy: train corpus bigram conditionals
    p(w2|w1) = c(w1,w2)/c(w1,·) in one aggregation pass and score every
    document by its mean bigram log-probability — one step up from
    ``t_unigram_logprob`` toward the KenLM filter (train = score corpus,
    so every observed bigram has nonzero probability; no smoothing term).

    Scale shape: adjacent pairs are built ROW-LOCALLY — an explode of
    ``arrays_zip(t[:-1], t[1:])`` — with no join at all (the (doc,pos)
    self-join formulation shuffles the fully-exploded corpus against
    itself; the zipped-slice explode is free of any exchange). Then one
    pair-count aggregate, a vocab-sized prefix-count aggregate derived
    FROM the pair counts (no second corpus pass), and a plain shuffle
    join back on the pair (no forced broadcast — web-scale bigram space).
    Per-token logprob rounded to 1e-4 decimal (exact, order-free sum);
    final mean at integer resolution (the unigram discipline).
    """
    d = load_table(spark, sf_dir, "documents")
    # Two-branch form (r9) is the DEFAULT again (r11, VERDICT r10 #3):
    # the r10 "shared pair-keyed exchange" (repartition("term_a","term_b")
    # reused by both the count aggregate and the scoring join) forces the
    # FULL bigram stream through one exchange; without it the count
    # branch's exchange carries only map-side-combined (a, b, count) rows
    # — the token stream repeats heavily, so the partial aggregate shrinks
    # it to near-vocabulary size — at the price of tokenizing+zipping the
    # corpus once per branch. Both driver records (r10@32 and @8c) read
    # the shared exchange WORSE than r9, and this round's steal-clean A/B
    # agrees: shared 1.43/1.43 s vs two-branch 1.16 s (passes with
    # per-pass steal 0.0 quoted in OPTIMIZATION_r11.md). At 100 TB the
    # same logic holds — an aggregate-before-shuffle (guide §2.3) beats a
    # full-stream exchange whenever keys repeat. Identical result either
    # way (oracle-pinned).
    bigrams = _adjacent_pairs(d)
    c_ab = bigrams.groupBy("term_a", "term_b").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = c_ab.groupBy("term_a").agg(F.sum("c_ab").alias("c_a"))
    lm = c_ab.join(c_a, "term_a").select(
        "term_a",
        "term_b",
        F.round(F.log(F.col("c_ab").cast("double") / F.col("c_a")), 4)
        .cast("decimal(18,4)")
        .alias("lp"),
    )
    return (
        bigrams.join(lm, ["term_a", "term_b"])
        .groupBy("doc_id")
        .agg(F.sum("lp").alias("_sum_lp"), F.count(F.lit(1)).alias("n_bigrams"))
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            (
                F.round(
                    (F.col("_sum_lp") * 10000).cast("bigint").cast("double")
                    / F.col("n_bigrams"),
                    0,
                )
                / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


T_BIGRAM_LP_SQL = f"""
WITH toks AS (
  SELECT doc_id, term, pos FROM (
    SELECT doc_id,
           unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term,
           generate_subscripts({OQ.sql_tokens(OQ.sql_norm('text'))}, 1) AS pos
    FROM documents
  ) AS t(doc_id, term, pos)
), bigrams AS (
  SELECT a.doc_id, a.term AS term_a, b.term AS term_b
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), cab AS (
  SELECT term_a, term_b, COUNT(*) AS c_ab FROM bigrams GROUP BY 1, 2
), ca AS (
  SELECT term_a, SUM(c_ab) AS c_a FROM cab GROUP BY 1
), lm AS (
  SELECT cab.term_a, cab.term_b,
         CAST(ROUND(ln(CAST(c_ab AS DOUBLE) / c_a), 4) AS DECIMAL(18,4)) AS lp
  FROM cab JOIN ca USING (term_a)
)
SELECT g.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(CAST(SUM(lm.lp) * 10000 AS BIGINT) AS DOUBLE) / COUNT(*))
         / 10000.0 AS avg_logprob
FROM bigrams g JOIN lm USING (term_a, term_b)
GROUP BY g.doc_id
"""

QUERIES["t_bigram_logprob"] = t_bigram_logprob
ORACLE["t_bigram_logprob"] = T_BIGRAM_LP_SQL


# ---------------------------------------------------------------------------
# Temperature-reweighted domain mixing (multilingual-style sampling)
# ---------------------------------------------------------------------------

_TEMP_ALPHA_DEN = 2  # alpha = 1/2: w_i ∝ share^0.5 (the mT5/XLM-R default)


def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted source mixing: sampling weights
    ``w_i ∝ share_i^α`` with α = 0.5 (the mT5/XLM-R upsampling rule —
    flattens the head, boosts the tail), realized as a DETERMINISTIC
    per-doc keep rule so the sample is reproducible.

    Exactness discipline: ``sqrt`` is IEEE-correctly-rounded in both
    engines, but a float SUM over sources is not order-stable — so each
    source's weight is quantized to an exact integer
    ``q_i = floor(sqrt(share_i)·10⁹)`` FIRST; the normalizer Z = Σq_i is
    then an exact bigint, the per-source keep threshold
    ``floor(q_i·10⁶/Z)`` is exact integer floor-division, and the keep
    rule compares a 60-bit content hash mod 10⁶ against it. Every
    output value is bit-identical cross-engine with zero tolerance.

    Scale shape: two bounded aggregates (per-source counts; the
    source-count table is tiny) + one codegen'd hash filter over the
    corpus — no shuffle beyond the rollups."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_total"))
    q = counts.crossJoin(F.broadcast(total)).withColumn(
        "_q",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double") / F.col("_total")) * F.lit(1e9)
        ).cast("bigint"),
    )
    z = q.agg(F.sum("_q").alias("_z"))
    thresh = q.crossJoin(F.broadcast(z)).withColumn(
        "_keep_ppm", F.floor(F.col("_q") * F.lit(1_000_000) / F.col("_z")).cast("bigint")
    )
    keyed = d.withColumn(
        "_h", F.pmod(TX.md5_long(F.concat(F.col("text"), F.lit("#tmix"))), F.lit(1_000_000))
    )
    kept = (
        keyed.join(F.broadcast(thresh.select("source", "_keep_ppm")), "source")
        .withColumn("_kept", F.col("_h") < F.col("_keep_ppm"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_kept").cast("bigint")).alias("n_kept"),
            F.max("_keep_ppm").alias("target_ppm"),
        )
    )


T_TEMPERATURE_MIX_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), q AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM counts)) * 1e9) AS BIGINT) AS qi
  FROM counts
), thresh AS (
  SELECT source, n_docs,
         CAST(FLOOR(qi * 1000000 / (SELECT SUM(qi) FROM q)) AS BIGINT) AS keep_ppm
  FROM q
)
SELECT d.source, t.n_docs,
       CAST(SUM(CASE WHEN {OQ.sql_md5_long("concat(text, '#tmix')")} % 1000000 < t.keep_ppm
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       MAX(t.keep_ppm) AS target_ppm
FROM documents d JOIN thresh t ON d.source = t.source
GROUP BY d.source, t.n_docs
"""

QUERIES["t_temperature_mix"] = t_temperature_mix
ORACLE["t_temperature_mix"] = T_TEMPERATURE_MIX_SQL


# ---------------------------------------------------------------------------
# BM25 ranking (the IR scorer the inverted index exists to serve)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def t_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query-term set (Lucene idf form:
    ``ln((N - df + 0.5)/(df + 0.5) + 1)``) — completes the retrieval stack
    over ``t_inverted_index``: index build there, scoring here.

    Scale shape: tokens are exploded ONCE and filtered to the query terms
    BEFORE the (doc, term) aggregate, so the shuffle carries only matching
    postings (|terms| × matching docs, not the corpus token stream). The
    df table is |query-terms| rows — bounded by construction, the
    legitimate broadcast class — and corpus stats (N, Σdl) are one
    crossJoin'd scalar row. Float discipline: tf/df/dl are exact integers;
    the score expression tree is IDENTICAL on both sides and display-
    rounded to 6 dp (ln differs across libm in the last ulp only)."""
    d = load_table(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id", F.size(TX.norm_tokens("text")).alias("dl"), TX.norm_tokens("text").alias("_toks")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum("dl").cast("double").alias("_tot"),
    )
    tf = (
        dl.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    avgdl = F.col("_tot") / F.col("_n_docs")
    idf = F.log((F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    w = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(w), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

T_BM25_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({OQ.sql_tokens(OQ.sql_norm('text'))}) AS dl,
         {OQ.sql_tokens(OQ.sql_norm('text'))} AS toks
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS tot FROM dl
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
  WHERE term IN ({_BM25_IN})
  GROUP BY doc_id, dl, term
), df AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id,
       ROUND(SUM(
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * ({_BM25_K1} + 1.0))
         / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * tf.dl / (stats.tot / stats.n_docs)))
       ), 6) AS bm25
FROM tf JOIN df USING (term), stats
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_TOPK}
"""

QUERIES["t_bm25_rank"] = t_bm25_rank
ORACLE["t_bm25_rank"] = T_BM25_SQL


def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope of
    log(frequency) against log(rank) for the top 1000 terms — the
    one-number sanity check that a text corpus looks like natural
    language (slope ~ -1) rather than boilerplate or spam (flat head /
    cliff tail). Standard corpus-QA metric (Zipf 1949; used as a
    generation-quality diagnostic in e.g. Meister & Cotterell 2021).

    Scale shape: one vocab aggregate (map-side combinable) -> top-1000
    via TakeOrderedAndProject (never a global sort) -> the 1000-row tail
    is collapsed to ONE row by a scalar collect_list aggregate, ranked by
    posexplode of the sorted array, and reduced with regr_slope — every
    single-partition exchange feeds a scalar aggregate, which is the plan
    audit's allowed shape. Ties broken (freq DESC, term ASC) identically
    in both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(TX.norm_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = vocab.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(1000)
    # pack (freq, term) so array_sort ranks exactly like the SQL ORDER BY:
    # freq DESC = sort ascending on -freq; term ASC breaks ties.
    packed = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("freq")).alias("nf"), F.col("term")))
        ).alias("arr")
    )
    ranked = packed.select(
        F.posexplode("arr").alias("pos", "entry")
    ).select(
        (F.col("pos") + 1).cast("double").alias("rank"),
        (-F.col("entry.nf")).cast("double").alias("freq"),
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 4).alias("zipf_slope"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("freq").cast("long").alias("top_freq"),
    )


T_ZIPF_SQL = f"""
WITH vocab AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term FROM documents)
  GROUP BY term
), top AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM vocab ORDER BY freq DESC, term ASC LIMIT 1000
)
SELECT ROUND(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(MAX(freq) AS BIGINT) AS top_freq
FROM top
"""

QUERIES["t_zipf_fit"] = t_zipf_fit
ORACLE["t_zipf_fit"] = T_ZIPF_SQL


_CDC_MOD = 8  # expected chunk length = 8 tokens (boundary prob 1/8)


def t_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea behind
    rsync/LBFS/storage dedup, Muthitacharoen et al. 2001, applied at the
    token level): a chunk boundary falls AFTER any token whose hash ≡ 0
    (mod 8), so chunk edges are content-anchored — inserting a sentence
    shifts ONE chunk, not every fixed-width window downstream. The query
    reports the chunk-level dedup profile per source: chunk count,
    distinct chunk fingerprints, and the duplicated-chunk percentage —
    what a CDC-dedup pass would reclaim.

    Scale shape: tokens explode with position; chunk ids are a running
    sum over the per-doc window (doc-keyed — millions of keys, no global
    sort); chunk fingerprints aggregate from an ordered in-group
    array_sort (exact, no collect to driver). One explode, two keyed
    shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.posexplode(TX.norm_tokens("text")).alias("pos", "tok")
    )
    # boundary AFTER a matching token => the NEXT token starts a chunk:
    # chunk id = running count of boundary tokens STRICTLY BEFORE pos
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_boundary = (F.pmod(TX.md5_long(F.col("tok")), F.lit(_CDC_MOD)) == 0).cast("int")
    chunked = toks.withColumn(
        "chunk_id", F.coalesce(F.sum(is_boundary).over(w), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        TX.md5_long(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("fp"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("fp").alias("n_distinct"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .withColumn(
            "dup_chunk_pct",
            F.round((F.col("n_chunks") - F.col("n_distinct")) * 100.0 / F.col("n_chunks"), 4),
        )
    )


T_CDC_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS tok,
         generate_subscripts({OQ.sql_tokens(OQ.sql_norm('text'))}, 1) AS pos
  FROM documents
), chunked AS (
  SELECT doc_id, source, tok, pos,
         COALESCE(SUM(CASE WHEN {OQ.sql_md5_long('tok')} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM toks
), chunks AS (
  SELECT doc_id, source, chunk_id,
         {OQ.sql_md5_long("string_agg(tok, ' ' ORDER BY pos)")} AS fp,
         COUNT(*) AS n_toks
  FROM chunked GROUP BY doc_id, source, chunk_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       ROUND((COUNT(*) - COUNT(DISTINCT fp)) * 100.0 / COUNT(*), 4) AS dup_chunk_pct
FROM chunks GROUP BY source
"""

QUERIES["t_cdc_chunking"] = t_cdc_chunking
ORACLE["t_cdc_chunking"] = T_CDC_SQL


def t_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's kappa) between two deterministic
    quality labelers — the audit run before trusting any pair of
    filtering heuristics (or weak labelers) to agree on what "quality"
    means: raw accord can be high while kappa exposes it as chance.

    Labeler A: char-length gate (n_chars >= 300). Labeler B: token-count
    gate (>= 50 whitespace tokens). Scale shape: ONE conditional-sum
    aggregate pass over the corpus (map-side combinable, bounded 1-row
    output); kappa is assembled from the four exact integer cells with a
    single float division — identical expression tree both engines —
    then display-rounded.
    """
    d = load_table(spark, sf_dir, "documents")
    a = (F.col("n_chars") >= 300).cast("long")
    b = (TX.token_count("text") >= 50).cast("long")
    cells = d.agg(
        F.sum(a * b).alias("n11"),
        F.sum(a * (1 - b)).alias("n10"),
        F.sum((1 - a) * b).alias("n01"),
        F.sum((1 - a) * (1 - b)).alias("n00"),
    )
    # kappa = (n*(n11+n00) - (a1*b1 + a0*b0)) / (n*n - (a1*b1 + a0*b0))
    # with a1 = n11+n10 (A-positive), b1 = n11+n01, a0/b0 complements —
    # all-integer numerator/denominator, one division.
    # degenerate marginals (chance agreement = 1) make the denominator 0:
    # kappa is undefined -> NULL in both engines (bare division raises
    # DIVIDE_BY_ZERO under ANSI mode)
    den = (
        "((n11+n10+n01+n00)*(n11+n10+n01+n00)"
        " - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)))"
    )
    num = (
        "((n11+n10+n01+n00) * (n11+n00)"
        " - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)))"
    )
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            F.expr(
                f"CASE WHEN {den} <> 0"
                f" THEN {num} / CAST({den} AS DOUBLE) END"
            ),
            4,
        ).alias("kappa_4dp"),
    )


T_KAPPA_SQL = f"""
WITH cells AS (
  SELECT
    SUM(CASE WHEN n_chars >= 300 AND {OQ.sql_token_count('text')} >= 50
        THEN 1 ELSE 0 END) AS n11,
    SUM(CASE WHEN n_chars >= 300 AND {OQ.sql_token_count('text')} < 50
        THEN 1 ELSE 0 END) AS n10,
    SUM(CASE WHEN n_chars < 300 AND {OQ.sql_token_count('text')} >= 50
        THEN 1 ELSE 0 END) AS n01,
    SUM(CASE WHEN n_chars < 300 AND {OQ.sql_token_count('text')} < 50
        THEN 1 ELSE 0 END) AS n00
  FROM documents
)
SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       ROUND(CASE WHEN (n11+n10+n01+n00)*(n11+n10+n01+n00)
                       - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) <> 0
                  THEN ((n11+n10+n01+n00) * (n11+n00)
                        - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)))
                       / CAST((n11+n10+n01+n00)*(n11+n10+n01+n00)
                        - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
             END, 4) AS kappa_4dp
FROM cells
"""

QUERIES["t_label_agreement_kappa"] = t_label_agreement_kappa
ORACLE["t_label_agreement_kappa"] = T_KAPPA_SQL


# ---------------------------------------------------------------------------
# BPE merge-candidate mining (tokenizer training, round 1)
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


def t_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first round of BPE tokenizer training: the top adjacent
    character-pair merge candidates, weighted by corpus frequency
    (Sennrich et al. 2016 §3 — each round merges the most frequent symbol
    pair; round 1 over raw characters is fully SQL-expressible, later
    rounds re-segment and are iterative).

    Scale shape — the classic BPE trick: pair counting runs on the WORD
    FREQUENCY table, not the token stream. The corpus-sized explode feeds
    one (word)-keyed aggregate; the per-position pair explode then fans
    out only |vocab| × word-length rows (orders of magnitude below corpus
    scale), each weighted by the word's count. Top-k is bounded output
    with (count desc, pair asc) total order."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(TX.tokens(F.lower("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = vocab.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


T_BPE_SQL = f"""
WITH vocab AS (
  SELECT w, COUNT(*) AS wc
  FROM (SELECT unnest({OQ.sql_tokens("lower(text)")}) AS w FROM documents)
  GROUP BY w
), pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
  FROM (SELECT * FROM vocab WHERE length(w) >= 2), unnest(range(1, length(w))) AS t(i)
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {_BPE_TOPK}
"""

QUERIES["t_bpe_merge_candidates"] = t_bpe_merge_candidates
ORACLE["t_bpe_merge_candidates"] = T_BPE_SQL


# ---------------------------------------------------------------------------
# Language-label QA: declared label vs heuristic prediction
# ---------------------------------------------------------------------------


def t_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: the confusion matrix between the DECLARED
    ``lang`` column and the heuristic ``lang_id`` prediction, with each
    cell's share of its declared-label row (ppm). The matrix is what you
    read before trusting upstream language tags for a per-language mix
    target — a hot off-diagonal cell means either the tag or the
    detector is wrong for that slice.

    Determinism: both axes are categorical, counts exact; the row share
    is integer ppm via ``x div y`` (non-negative, same truncation in
    both engines). Scale shape: ONE (lang × pred) rollup — both domains
    bounded — plus a bounded marginal joined back on ``lang``.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = d.select("lang", TX.lang_id("text").alias("pred_lang")).groupBy(
        "lang", "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    marg = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return (
        cells.join(marg, "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr("n_docs * 1000000 div n_lang").alias("row_share_ppm"),
        )
        .orderBy("lang", "pred_lang")
    )


T_LANG_CONFUSION_SQL = f"""
WITH cells AS (
  SELECT lang, {OQ.sql_lang_id('text')} AS pred_lang, COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
), marg AS (SELECT lang, SUM(n_docs) AS n_lang FROM cells GROUP BY lang)
SELECT lang, pred_lang, n_docs,
       CAST(n_docs * 1000000 // n_lang AS BIGINT) AS row_share_ppm
FROM cells JOIN marg USING (lang)
ORDER BY lang, pred_lang
"""

QUERIES["t_lang_confusion"] = t_lang_confusion
ORACLE["t_lang_confusion"] = T_LANG_CONFUSION_SQL


# ---------------------------------------------------------------------------
# Lexical diversity: type-token ratio per source
# ---------------------------------------------------------------------------


def t_ttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity census: per-document type-token ratio (distinct
    tokens / tokens, in ppm) rolled up per source — low-TTR sources are
    template farms and keyword stuffing; the classic diversity screen
    next to the Gopher repetition rules (``t_repetition`` measures
    within-line repeats; TTR measures vocabulary collapse).

    Determinism: TTR is exact integer ppm per document (``distinct
    count`` is order-independent), and the per-source mean is an integer
    division of exact sums. Scale shape: one row-local expression (no
    explode — ``array_distinct`` runs inside codegen), one bounded
    per-source rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = TX.norm_tokens("text")
    per_doc = d.select(
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ).filter(F.col("n_tokens") > 0)
    return (
        per_doc.select(
            "source",
            "n_tokens",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr("sum(ttr_ppm) div count(1)").alias("mean_ttr_ppm"),
            F.min("ttr_ppm").alias("min_ttr_ppm"),
            F.max("ttr_ppm").alias("max_ttr_ppm"),
        )
        .orderBy("source")
    )


T_TTR_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len({OQ.sql_tokens(OQ.sql_norm('text'))}) AS n_tokens,
         len(list_distinct({OQ.sql_tokens(OQ.sql_norm('text'))})) AS n_types
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_types * 1000000 // n_tokens) // COUNT(*) AS BIGINT)
         AS mean_ttr_ppm,
       CAST(MIN(n_types * 1000000 // n_tokens) AS BIGINT) AS min_ttr_ppm,
       CAST(MAX(n_types * 1000000 // n_tokens) AS BIGINT) AS max_ttr_ppm
FROM per_doc WHERE n_tokens > 0
GROUP BY source
ORDER BY source
"""

QUERIES["t_ttr_diversity"] = t_ttr_diversity
ORACLE["t_ttr_diversity"] = T_TTR_SQL


# ---------------------------------------------------------------------------
# Character-entropy compressibility proxy
# ---------------------------------------------------------------------------

_ENT_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy census — the compressibility proxy:
    low-entropy documents are repeated boilerplate / padded junk (they
    gzip to nothing), abnormally high entropy flags base64 blobs and
    minified noise. The standard cheap screen next to ``t_repetition``
    and ``t_ttr_diversity``, over a FIXED 29-class alphabet (26 letters,
    digits, space, other) so the entropy scale is comparable across
    documents.

    Determinism: class counts are exact integers (replace/regex length
    arithmetic, no explode); per-document entropy is a FIXED left fold
    of 29 ``−p·ln p`` terms — same expression order in both engines →
    bit-identical — rounded once to 6 and accumulated as DECIMAL for
    the per-source mean. Scale shape: row-local expression, one bounded
    per-source rollup; zero data-sized shuffles beyond the rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    L = F.length(lt)
    counts = [
        F.length(lt) - F.length(F.replace(lt, F.lit(ch))) for ch in _ENT_LETTERS
    ]
    counts.append(F.length(lt) - F.length(F.regexp_replace(lt, "[0-9]", "")))
    counts.append(F.length(lt) - F.length(F.replace(lt, F.lit(" "))))
    counts.append(L - sum(counts[:28]))
    term = None
    for c in counts:
        p = c.cast("double") / L.cast("double")
        t = F.when(c > 0, -p * F.log(p)).otherwise(F.lit(0.0))
        term = t if term is None else term + t
    per_doc = d.filter(L > 0).select(
        "source", F.round(term, 6).cast("decimal(18,6)").alias("ent")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ent").alias("_sum"),
            F.min("ent").cast("double").alias("min_entropy"),
            F.max("ent").cast("double").alias("max_entropy"),
        )
        .select(
            "source",
            "n_docs",
            # integer-resolution mean (the t_unigram_logprob discipline):
            # ROUND(x, 6) of a double quotient takes engine-specific paths;
            # ROUND(x) of the same scaled double is tie-ruled identically.
            (
                F.round(
                    (F.col("_sum") * 1000000).cast("bigint").cast("double")
                    / F.col("n_docs"),
                    0,
                )
                / F.lit(1000000.0)
            ).alias("mean_entropy"),
            "min_entropy",
            "max_entropy",
        )
        .orderBy("source")
    )


def _char_entropy_sql() -> str:
    cnts = [
        f"length(lt) - length(replace(lt, '{ch}', ''))" for ch in _ENT_LETTERS
    ]
    cnts.append("length(lt) - length(regexp_replace(lt, '[0-9]', '', 'g'))")
    cnts.append("length(lt) - length(replace(lt, ' ', ''))")
    named = ", ".join(f"({e}) AS c{i}" for i, e in enumerate(cnts))
    other = "length(lt) - (" + " + ".join(f"c{i}" for i in range(28)) + ")"
    terms = []
    for i in range(29):
        c = f"c{i}" if i < 28 else "c28"
        terms.append(
            f"(CASE WHEN {c} > 0 THEN -(CAST({c} AS DOUBLE) / CAST(length(lt) AS DOUBLE))"
            f" * ln(CAST({c} AS DOUBLE) / CAST(length(lt) AS DOUBLE)) ELSE 0.0 END)"
        )
    fold = " + ".join(terms)
    return f"""
WITH base AS (SELECT source, lower(text) AS lt FROM documents),
cls AS (SELECT source, lt, {named} FROM base),
cls2 AS (SELECT *, ({other}) AS c28 FROM cls),
per_doc AS (
  SELECT source, CAST(ROUND({fold}, 6) AS DECIMAL(18,6)) AS ent
  FROM cls2 WHERE length(lt) > 0
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(CAST(CAST(SUM(ent) * 1000000 AS BIGINT) AS DOUBLE) / COUNT(*))
         / 1000000.0 AS mean_entropy,
       CAST(MIN(ent) AS DOUBLE) AS min_entropy,
       CAST(MAX(ent) AS DOUBLE) AS max_entropy
FROM per_doc GROUP BY source
ORDER BY source
"""


QUERIES["t_char_entropy"] = t_char_entropy
ORACLE["t_char_entropy"] = _char_entropy_sql()


# ---------------------------------------------------------------------------
# Heaps' law: vocabulary-growth exponent
# ---------------------------------------------------------------------------

_HEAPS_POINTS = 10


def t_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth — ``V(N) ≈ K·N^β`` with β
    typically 0.4-0.6 for natural text: the corpus-health law that
    tells you whether more data still buys new vocabulary (β collapsing
    toward 0 = the crawl is recrawling itself; β near 1 = id-like junk
    tokens). Fitted by log-log least squares over ``_HEAPS_POINTS``
    checkpoints placed at fixed fractions of the doc-id span.

    Mechanics: a term's FIRST document (min doc_id per term) makes the
    cumulative vocabulary at checkpoint c a plain conditional count
    (``first_doc ≤ c``), so no ordered scan ever happens — vocabulary
    table × 10 checkpoints via a bounded-multiplier non-equi join, same
    for cumulative token counts. Regression sums are 6-decimal-rounded
    (ln N, ln V) products accumulated as DECIMAL; the slope/intercept
    are single divisions of those exact sums.

    Scale shape: explode → per-term min aggregate (vocab-sized,
    map-side combinable) → ×10 bounded fanout rollups → 10-point
    regression reduced in one scalar aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.norm_tokens("text")).alias("term"))
    fd = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    ntok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    span = d.agg(F.max("doc_id").alias("maxid"))
    cps = (
        spark.range(1, _HEAPS_POINTS + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(span))
        .select("i", F.expr(f"maxid * i div {_HEAPS_POINTS}").alias("cp"))
    )
    vocab = (
        cps.join(fd, fd.first_doc <= cps.cp)
        .groupBy("i", "cp")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    tokens = (
        cps.join(ntok, ntok.doc_id <= cps.cp)
        .groupBy("i")
        .agg(F.sum("nt").alias("n"))
    )
    pts = vocab.join(tokens, "i").select(
        F.round(F.log(F.col("n").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("v").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return sums.select(
        F.col("k").cast("bigint").alias("n_points"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / F.col("k").cast("double"),
            6,
        ).alias("intercept_ln_k"),
    )


T_HEAPS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS term
  FROM documents
), fd AS (
  SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term
), ntok AS (
  SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id
), span AS (SELECT MAX(doc_id) AS maxid FROM documents),
cps AS (
  SELECT i, maxid * i // {_HEAPS_POINTS} AS cp
  FROM generate_series(1, {_HEAPS_POINTS}) AS t(i), span
), vocab AS (
  SELECT i, cp, COUNT(*) AS v FROM cps JOIN fd ON fd.first_doc <= cps.cp
  GROUP BY i, cp
), tokens AS (
  SELECT i, SUM(nt) AS n FROM cps JOIN ntok ON ntok.doc_id <= cps.cp
  GROUP BY i
), pts AS (
  SELECT CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(CAST(v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM vocab JOIN tokens USING (i)
), sums AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_points,
       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
             / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(k AS DOUBLE), 6) AS intercept_ln_k
FROM sums
"""

QUERIES["t_heaps_law"] = t_heaps_law
ORACLE["t_heaps_law"] = T_HEAPS_SQL


# ---------------------------------------------------------------------------
# Lognormal length-model fit
# ---------------------------------------------------------------------------


def t_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments lognormal fit of the document-length
    distribution — lengths of web text are canonically lognormal, and
    the fitted (μ, σ) is what sizing decisions read: the predicted
    median ``e^μ``, and the z-score any length threshold corresponds to
    (a ``max_length`` filter at z=3 cuts a known mass). Pair with
    ``s_ks_test``/``s_psi_drift``, which detect change; this names the
    shape.

    Determinism: per-doc ``ln n_chars`` is rounded to 6 and both moment
    sums accumulate as DECIMAL (exact, order-free); μ uses the
    integer-resolution mean discipline and σ is one fixed expression
    tree over the exact sums. Scale shape: ONE scalar aggregate pass.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    y = F.round(F.log(F.col("n_chars").cast("double")), 6).cast("decimal(18,6)")
    sums = d.select(y.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    mu = (
        F.round((F.col("sy") * 1000000).cast("bigint").cast("double") / F.col("n"), 0)
        / F.lit(1000000.0)
    )
    var = F.col("syy").cast("double") / F.col("n").cast("double") - (
        F.col("sy").cast("double") / F.col("n").cast("double")
    ) * (F.col("sy").cast("double") / F.col("n").cast("double"))
    return sums.select(
        F.col("n").cast("bigint").alias("n_docs"),
        mu.alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round(F.exp(mu), 2).alias("pred_median_chars"),
    )


T_LOGNORMAL_SQL = """
WITH ys AS (
  SELECT CAST(ROUND(ln(CAST(n_chars AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM documents WHERE n_chars > 0
), sums AS (
  SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy FROM ys
)
SELECT CAST(n AS BIGINT) AS n_docs,
       ROUND(CAST(CAST(sy * 1000000 AS BIGINT) AS DOUBLE) / n) / 1000000.0
         AS mu,
       ROUND(sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS sigma,
       ROUND(exp(ROUND(CAST(CAST(sy * 1000000 AS BIGINT) AS DOUBLE) / n)
                 / 1000000.0), 2) AS pred_median_chars
FROM sums
"""

QUERIES["t_length_lognormal_fit"] = t_length_lognormal_fit
ORACLE["t_length_lognormal_fit"] = T_LOGNORMAL_SQL


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # winnowing window (in k-grams); expected density 2/(w+1)


def t_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint audit (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS algorithm): slide a w=4 window over each document's
    POSITIONAL 3-word-shingle hash sequence (``word_shingle_seq`` —
    winnowing is defined over the k-gram sequence, not the distinct
    set), keep the minimum hash per window, dedupe — the
    guaranteed-coverage fingerprint set that lets a dedup index store
    ~2/(w+1) of all k-gram hashes while still catching any match of
    length ≥ w+k−1. Per source: document count, k-gram volume, selected
    fingerprint volume, measured density vs the paper's 2/(w+1)
    expectation, and the distinct-fingerprint count (the actual index
    size a 100-TB near-dup index would carry). Sub-k-token documents
    (including empty/whitespace ones) contribute their single
    whole-text shingle — the ``word_shingles`` fallback contract;
    NULL-text documents carry no fingerprints and are excluded by spec
    (``concat_ws`` swallows NULL in Spark where DuckDB's
    ``array_to_string`` propagates it — the filter IS the cross-engine
    semantics, pinned by the null-parity test).

    Exactness: fingerprints are min-selections over exact integer
    hashes — no floats until the final density ratio. Value-min stands
    in for the paper's rightmost-min tiebreak: ties are equal VALUES,
    so the selected set is identical.

    Scale shape: ONE pass — per-document array algebra, posexplode of
    the per-doc fingerprint set (pos==0 marks the doc row, so doc-level
    sums need no second branch or join), one m-source-bounded rollup.
    Shuffle carries fingerprint hashes only, never text.
    """
    from webscale_multimodal_datapipeline_spark.operators import dedup as OD

    w = _WINNOW_W
    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )
    base = (
        d.withColumn("_toks", TX.norm_tokens("text"))
        .withColumn("_sh", TX.word_shingle_seq("text", k=3, toks=F.col("_toks")))
        .withColumn("_h", OD.shingle_hashes(F.col("_sh")))
    )
    nwin = F.greatest(F.size("_h") - F.lit(w - 1), F.lit(1))
    fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.array_min(F.slice(F.col("_h"), i, w)),
        )
    )
    return (
        base.select(
            "doc_id",
            "source",
            F.size("_h").cast("long").alias("n_kgrams"),
            F.posexplode(fp).alias("_pos", "_f"),
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.when(F.col("_pos") == 0, F.col("n_kgrams"))).alias(
                "total_kgrams"
            ),
            F.count(F.lit(1)).alias("total_fp"),
            F.countDistinct("_f").alias("n_distinct_fp"),
        )
        .select(
            "source",
            "n_docs",
            "total_kgrams",
            "total_fp",
            "n_distinct_fp",
            F.round(
                F.col("total_fp").cast("double") / F.col("total_kgrams").cast("double"),
                6,
            ).alias("density"),
            F.round(F.lit(2.0) / F.lit(float(w + 1)), 6).alias("expected_density"),
        )
    )


def _winnowing_sql() -> str:
    w = _WINNOW_W
    return f"""
WITH toks AS (
  SELECT doc_id, source, {OQ.sql_tokens(OQ.sql_norm('text'))} AS t
  FROM documents WHERE text IS NOT NULL
), shl AS (
  SELECT doc_id, source, {OQ.sql_shingle_seq_from_tokens('t')} AS sh FROM toks
), hs AS (
  SELECT doc_id, source, {OQ.sql_shingle_hashes('sh')} AS h FROM shl
), fp AS (
  SELECT doc_id, source, len(h) AS n_kgrams,
         list_distinct(list_transform(
           range(1, greatest(len(h) - {w - 1}, 1) + 1),
           i -> list_min(list_slice(h, i, i + {w - 1})))) AS f
  FROM hs
), per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_kgrams) AS BIGINT) AS total_kgrams,
         CAST(SUM(len(f)) AS BIGINT) AS total_fp
  FROM fp GROUP BY source
), dfp AS (
  SELECT source, CAST(COUNT(DISTINCT uf) AS BIGINT) AS n_distinct_fp
  FROM (SELECT source, unnest(f) AS uf FROM fp) GROUP BY source
)
SELECT p.source, n_docs, total_kgrams, total_fp, n_distinct_fp,
       ROUND(CAST(total_fp AS DOUBLE) / CAST(total_kgrams AS DOUBLE), 6)
         AS density,
       ROUND(CAST(2 AS DOUBLE) / CAST({w + 1} AS DOUBLE), 6) AS expected_density
FROM per_source p JOIN dfp d ON p.source IS NOT DISTINCT FROM d.source
"""


QUERIES["t_winnowing_fingerprint"] = t_winnowing_fingerprint
ORACLE["t_winnowing_fingerprint"] = _winnowing_sql()


_OOV_VOCAB_K = 1000


def t_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: build a frequency-ranked vocabulary of
    the corpus's top 1000 normalized tokens (ties broken token-asc, the
    deterministic rule) and report each source's out-of-vocabulary token
    rate — the number a tokenizer team checks per data source before
    committing a vocab size (high OOV on a source means its text will
    fragment into long byte-fallback sequences and inflate training
    cost). All-integer counts; one double division per row.

    Scale shape: token counts are one map-side-combinable aggregate; the
    vocab is a bounded top-K (broadcast-joined back); per-source rates
    are a second rollup — no all-token shuffle beyond the counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(TX.norm_tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok"))),
        )
        .filter(F.col("rk") <= _OOV_VOCAB_K)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


T_OOV_SQL = f"""
WITH toks AS (
  SELECT source, unnest({OQ.sql_tokens(OQ.sql_norm('text'))}) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rk
    FROM toks GROUP BY tok
  ) WHERE rk <= {_OOV_VOCAB_K}
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.source ORDER BY t.source
"""

QUERIES["t_oov_rate"] = t_oov_rate
ORACLE["t_oov_rate"] = T_OOV_SQL


# ---------------------------------------------------------------------------
# Sequence packing (round 9) — the step between tokenizer-encode and the
# trainer. No reference counterpart (the reference stops at per-record
# refinement); extends SURVEY §2's training-data coverage like dedup/ANN.
# ---------------------------------------------------------------------------

from webscale_multimodal_datapipeline_spark.operators import packing as OPK  # noqa: E402


def t_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concatenate-then-chunk window assignment: documents laid
    end-to-end in doc_id order, the token stream cut every PACK_BUDGET
    tokens (``operators/packing.py::concat_chunk_pack``). Per-doc output
    (start pack, offset, boundary-span flag) is a pure function of the
    exclusive global token cumsum — computed on the range-repartition +
    broadcast-offset pattern, never an unpartitioned window — and the
    oracle replays it as ANSI window algebra, hash-exact.

    Distinct from ``c_sequence_pack`` (the bucketed-streams variant:
    independent hash streams, coarse (bucket, seq_id) only): this is the
    SINGLE global stream with seek-accurate offsets — see the packing
    module docstring for the three-discipline map."""
    d = load_table(spark, sf_dir, "documents")
    return OPK.concat_chunk_pack(d, budget=OPK.PACK_BUDGET)


_B = OPK.PACK_BUDGET

_T_PACK_CUMSUM_CTE = f"""
t AS (
  SELECT doc_id, CAST({OQ.sql_bpe_token_count('text')} AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS excl
  FROM t
)"""

T_SEQUENCE_PACK_SQL = f"""
WITH {_T_PACK_CUMSUM_CTE}
SELECT doc_id, n_tokens,
       CAST(excl // {_B} AS BIGINT) AS pack_id,
       CAST(excl % {_B} AS BIGINT) AS pack_offset,
       ((excl + GREATEST(n_tokens, 1) - 1) // {_B}) > (excl // {_B})
         AS spans_boundary
FROM c
"""


def t_pack_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing efficiency audit over the concat-chunk layout: corpus
    totals, full-window count, boundary-spanning docs, and the tail
    window's fill — the numbers a data-loading team reads before a run."""
    p = OPK.concat_chunk_pack(
        load_table(spark, sf_dir, "documents"), budget=OPK.PACK_BUDGET
    )
    b = F.lit(OPK.PACK_BUDGET).cast("bigint")
    return p.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr(f"CAST(SUM(n_tokens) DIV {OPK.PACK_BUDGET} AS BIGINT)").alias(
            "n_full_packs"
        ),
        F.expr(f"CAST(SUM(n_tokens) % {OPK.PACK_BUDGET} AS BIGINT)").alias(
            "tail_fill"
        ),
        F.sum(F.col("spans_boundary").cast("bigint")).alias("n_spanning"),
    )


T_PACK_SUMMARY_SQL = f"""
WITH {_T_PACK_CUMSUM_CTE}
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) // {_B} AS BIGINT) AS n_full_packs,
       CAST(SUM(n_tokens) % {_B} AS BIGINT) AS tail_fill,
       CAST(SUM(CASE WHEN ((excl + GREATEST(n_tokens, 1) - 1) // {_B})
                          > (excl // {_B}) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_spanning
FROM c
"""


def t_nextfit_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-free Next-Fit-Decreasing packing within deterministic
    hash shards (``operators/packing.py::nextfit_pack``): docs never
    split; per shard, (n_tokens DESC, doc_id) order, a doc that no longer
    fits the open pack opens the next. The per-shard fold is sequential,
    so the oracle replays it with a recursive CTE — exact assignment
    hashes, not just invariants."""
    d = load_table(spark, sf_dir, "documents")
    return OPK.nextfit_pack(
        d, budget=OPK.PACK_BUDGET, n_shards=OPK.PACK_SHARDS
    )


T_NEXTFIT_PACK_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST({OQ.sql_bpe_token_count('text')} AS BIGINT) AS n_tokens,
         CAST({OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % {OPK.PACK_SHARDS}
              AS INT) AS shard
  FROM documents
), s AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY shard ORDER BY n_tokens DESC, doc_id ASC
         ) AS rn
  FROM t
), rec AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
         CASE WHEN rec.fill + s.n_tokens <= {_B}
              THEN rec.pack_id ELSE rec.pack_id + 1 END,
         CASE WHEN rec.fill + s.n_tokens <= {_B}
              THEN rec.fill + s.n_tokens ELSE s.n_tokens END
  FROM s JOIN rec ON s.shard = rec.shard AND s.rn = rec.rn + 1
)
SELECT shard, doc_id, n_tokens, pack_id FROM rec
"""

QUERIES["t_sequence_pack"] = t_sequence_pack
ORACLE["t_sequence_pack"] = T_SEQUENCE_PACK_SQL
QUERIES["t_pack_summary"] = t_pack_summary
ORACLE["t_pack_summary"] = T_PACK_SUMMARY_SQL
QUERIES["t_nextfit_pack"] = t_nextfit_pack
ORACLE["t_nextfit_pack"] = T_NEXTFIT_PACK_SQL
