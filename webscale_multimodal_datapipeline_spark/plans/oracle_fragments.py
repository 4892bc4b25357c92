"""DuckDB SQL fragment generators mirroring ``functions/text.py`` and
``functions/vectors.py`` expression-for-expression.

Every fragment is constructed so the floating-point operation ORDER is
identical to the Spark Column expression it mirrors (left-fold sums,
double-division of exact values) — equal inputs then produce bit-equal
outputs, and the driver's value-hash comparison passes without tolerance.

Shared constants (salts, weights, planes, stopwords) are imported from the
Spark-side modules — one source of truth.
"""

from __future__ import annotations

from webscale_multimodal_datapipeline_spark.functions.text import LANG_MARKERS, STOPWORDS
from webscale_multimodal_datapipeline_spark.operators.dedup import (
    EMB_LSH_PLANES,
    LSH_BANDS,
    SIMHASH_BITS,
    _plane_coef,
)
from webscale_multimodal_datapipeline_spark.operators.filters import DEFAULT_WORD_WEIGHTS

# ---------------------------------------------------------------------------
# Text
# ---------------------------------------------------------------------------


def sql_norm(col: str = "text") -> str:
    """lower+collapse-whitespace+trim (functions.text.normalize_text)."""
    return f"lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def sql_tokens(expr: str) -> str:
    """non-empty whitespace tokens (functions.text.tokens)."""
    return f"list_filter(string_split_regex(trim({expr}), '\\s+'), t -> t <> '')"


def sql_token_count(col: str = "text") -> str:
    return f"len({sql_tokens(col)})"


def sql_bpe_token_count(col: str = "text") -> str:
    """BPE-ish token count (functions.text.bpe_ish_token_count): maximal
    alphanumeric runs + individual punctuation marks, RE2-safe."""
    return (
        f"(len(regexp_extract_all({col}, '[A-Za-z0-9]+'))"
        f" + len(regexp_extract_all({col}, '[^A-Za-z0-9\\s]')))"
    )


def sql_md5_long(expr: str) -> str:
    """60-bit integer md5 hash (functions.text.md5_long)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def sql_punct_ratio(col: str = "text") -> str:
    n_punct = f"(length({col}) - length(regexp_replace({col}, '[^\\w\\s]', '', 'g')))"
    return f"(CASE WHEN length({col}) > 0 THEN {n_punct} / length({col}) ELSE 0.0 END)"


def sql_stopword_ratio(col: str = "text") -> str:
    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    toks = sql_tokens(col)
    return (
        f"(CASE WHEN len({toks}) > 0 THEN "
        f"len(list_filter({toks}, t -> list_contains({stoplist}, lower(t)))) / len({toks}) "
        f"ELSE 0.0 END)"
    )


def sql_mean_word_length(col: str = "text") -> str:
    toks = sql_tokens(col)
    return (
        f"(CASE WHEN len({toks}) > 0 THEN "
        f"CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE) / len({toks}) "
        f"ELSE 0.0 END)"
    )


def sql_quality_score(col: str = "text") -> str:
    """Mirror of functions.text.quality_score — same term order."""
    len_comp = f"least(length({col}) / 400.0, 1.0)"
    stop_comp = f"least({sql_stopword_ratio(col)} / 0.2, 1.0)"
    return f"(0.4 * {len_comp} + 0.3 * (1.0 - {sql_punct_ratio(col)}) + 0.3 * {stop_comp})"


def sql_lang_id(col: str = "text") -> str:
    """Mirror of functions.text.lang_id (tie priority en>es>fr>de>zh;
    same first-LANG_ID_MAX_TOKENS evidence slice)."""
    from webscale_multimodal_datapipeline_spark.functions.text import (
        LANG_ID_MAX_TOKENS,
    )

    toks = f"({sql_tokens(col)})[1:{LANG_ID_MAX_TOKENS}]"
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        scores[lang] = f"len(list_filter({toks}, t -> list_contains({lst}, lower(t))))"
    best = "greatest(" + ", ".join(scores.values()) + ")"
    branches = " ".join(
        f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"(CASE WHEN {best} > 0 THEN (CASE {branches} END) ELSE 'und' END)"


def sql_word_score(col: str = "text", weights: dict[str, float] | None = None) -> str:
    """Mirror of operators.filters.word_score (0.8*max + min(total/3, 0.2))."""
    weights = weights or DEFAULT_WORD_WEIGHTS
    matched = [
        f"(CASE WHEN regexp_matches({col}, '\\b{w}\\b') THEN {wt} ELSE 0.0 END)"
        for w, wt in weights.items()
    ]
    max_w = "greatest(" + ", ".join(matched) + ")"
    total = "(" + " + ".join(matched) + ")"
    return f"(0.8 * {max_w} + least({total} / 3.0, 0.2))"


# ---------------------------------------------------------------------------
# Gopher quality rules (mirror of functions.text.gopher_flags)
# ---------------------------------------------------------------------------


def sql_gopher_flags(col: str = "text") -> dict[str, str]:
    from webscale_multimodal_datapipeline_spark.functions import text as TXX

    toks = sql_tokens(col)
    n = f"len({toks})"
    syms = f"len(regexp_extract_all({col}, '#|\\.\\.\\.'))"
    symbol_ratio = f"(CASE WHEN {n} > 0 THEN {syms} / {n} ELSE 0.0 END)"
    alpha = f"len(list_filter({toks}, t -> regexp_matches(t, '[A-Za-z]')))"
    alpha_ratio = f"(CASE WHEN {n} > 0 THEN {alpha} / {n} ELSE 0.0 END)"
    lines = f"string_split({col}, chr(10))"
    nl = f"len({lines})"
    bullets = f"len(list_filter({lines}, l -> regexp_matches(trim(l), '^[-*•]')))"
    bullet_ratio = f"(CASE WHEN {nl} > 0 THEN {bullets} / {nl} ELSE 0.0 END)"
    ells = f"len(list_filter({lines}, l -> regexp_matches(trim(l), '\\.\\.\\.$')))"
    ellipsis_ratio = f"(CASE WHEN {nl} > 0 THEN {ells} / {nl} ELSE 0.0 END)"
    stoplist = "[" + ", ".join(f"'{w}'" for w in TXX.STOPWORDS) + "]"
    stops = f"len(list_filter({toks}, t -> list_contains({stoplist}, lower(t))))"
    return {
        "ok_word_count": f"({n} BETWEEN {TXX.GOPHER_MIN_WORDS} AND {TXX.GOPHER_MAX_WORDS})",
        "ok_mean_word_len": (
            f"({sql_mean_word_length(col)} BETWEEN {TXX.GOPHER_MIN_MEAN_WORD_LEN}"
            f" AND {TXX.GOPHER_MAX_MEAN_WORD_LEN})"
        ),
        "ok_symbol_ratio": f"({symbol_ratio} < {TXX.GOPHER_MAX_SYMBOL_RATIO})",
        "ok_bullet_ratio": f"({bullet_ratio} < {TXX.GOPHER_MAX_BULLET_RATIO})",
        "ok_ellipsis_ratio": f"({ellipsis_ratio} < {TXX.GOPHER_MAX_ELLIPSIS_RATIO})",
        "ok_alpha_ratio": f"({alpha_ratio} > {TXX.GOPHER_MIN_ALPHA_RATIO})",
        "ok_stopwords": f"({stops} >= {TXX.GOPHER_MIN_STOPWORDS})",
    }


# ---------------------------------------------------------------------------
# Shingles / MinHash / SimHash
# ---------------------------------------------------------------------------


def sql_shingles_from_tokens(tok_col: str = "t", k: int = 3) -> str:
    """Mirror of functions.text.word_shingles, applied to a precomputed
    token-array column (use inside a CTE: ``SELECT <sql_tokens(...)> AS t``).
    Distinct k-word shingles; short texts → single whole-text shingle."""
    t = tok_col
    parts = " || ' ' || ".join(f"{t}[i + {j}]" for j in range(k))
    shingles = f"list_distinct(list_transform(range(1, len({t}) - {k - 2}), i -> {parts}))"
    # COALESCE: array_to_string([], ' ') is NULL in DuckDB where Spark's
    # concat_ws over an empty array is '' — the whole-text fallback must
    # agree on empty-token documents (caught by the null-parity tests)
    whole = f"[COALESCE(array_to_string({t}, ' '), '')]"
    return f"(CASE WHEN len({t}) >= {k} THEN {shingles} ELSE {whole} END)"


def sql_shingle_hashes(shingles_expr: str) -> str:
    """md5-long mod P per shingle (mirror of operators.dedup.shingle_hashes)."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import MINHASH_P

    return f"list_transform({shingles_expr}, s -> {sql_md5_long('s')} % {MINHASH_P})"


def sql_minhash_sig_elements(hash_col: str) -> list[str]:
    """One min-hash element per affine permutation (mirror of
    minhash_signature), over a precomputed shingle-hash array column."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    return [
        f"list_min(list_transform({hash_col}, x -> (x * {a} + {b}) % {MINHASH_P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def sql_lsh_bands(sig_col: str, bands: int = LSH_BANDS) -> list[str]:
    from webscale_multimodal_datapipeline_spark.operators.dedup import NUM_MINHASHES

    r = NUM_MINHASHES // bands
    return [
        "concat_ws('|', '" + str(j) + "', "
        + ", ".join(f"CAST({sig_col}[{j * r + i + 1}] AS VARCHAR)" for i in range(r))
        + ")"
        for j in range(bands)
    ]


def sql_token_hashes(col: str = "text") -> str:
    """md5-long hash per token of the normalized text (→ alias as ``h``)."""
    toks = sql_tokens(sql_norm(col))
    return f"list_transform({toks}, t -> {sql_md5_long('t')})"


def sql_simhash_from_hashes(hash_col: str = "h", bits: int = SIMHASH_BITS) -> str:
    """Mirror of operators.dedup.simhash, over a precomputed token-hash
    array column (use inside a CTE: ``SELECT <sql_token_hashes(...)> AS h``)."""
    terms = []
    for j in range(bits):
        vote = f"list_sum(list_transform({hash_col}, x -> ((x >> {j}) & 1) * 2 - 1))"
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Vectors — left-fold sums to match F.aggregate exactly
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str, dim: int) -> str:
    """((0 + p1) + p2) + ... left fold == Spark F.aggregate order."""
    terms = " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1))
    return f"({terms})"


def sql_l2_norm(a: str, dim: int) -> str:
    return f"sqrt({sql_dot(a, a, dim)})"


def sql_guarded_div(num: str, den: str) -> str:
    """CASE-guarded division (functions.vectors.guarded_div): NULL on a
    zero OR NULL denominator — cosine is undefined on zero-norm vectors,
    and Spark's ANSI mode would raise where DuckDB's float division would
    produce inf/nan; the explicit guard makes both engines emit NULL."""
    return f"(CASE WHEN ({den}) <> 0 THEN ({num}) / ({den}) END)"


def sql_cosine(a: str, b: str, dim: int) -> str:
    return sql_guarded_div(
        sql_dot(a, b, dim), f"({sql_l2_norm(a, dim)} * {sql_l2_norm(b, dim)})"
    )


def sql_mlp_score(col: str, weights: list[float], bias: float) -> str:
    terms = " + ".join(
        f"{col}[{i + 1}]::DOUBLE * {float(w)!r}" for i, w in enumerate(weights)
    )
    return f"({float(bias)!r} + {terms})"


def sql_hyperplane_bucket(
    col: str, dim: int, planes: int = EMB_LSH_PLANES, offset: int = 0
) -> str:
    """Mirror of operators.dedup.hyperplane_bucket."""
    parts = []
    for p in range(planes):
        proj = " + ".join(
            f"{col}[{i + 1}]::DOUBLE * {_plane_coef(offset + p, i)}" for i in range(dim)
        )
        parts.append(f"(CASE WHEN ({proj}) > 0 THEN CAST({2**p} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def sql_center_clean_pred(col: str, dim: int) -> str:
    """Mirror of operators.dedup._center_clean_pred: rows eligible for the
    centering statistics (non-null, exact length, every element non-null /
    non-NaN / |x| <= EMB_CENTER_ABS_MAX — NaN/inf can't round-trip the
    exact DECIMAL sum)."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        EMB_CENTER_ABS_MAX,
    )

    return (
        f"({col} IS NOT NULL AND len({col}) = {dim} AND "
        f"len(list_filter({col}, x -> x IS NULL OR isnan(x) "
        f"OR abs(x) > {EMB_CENTER_ABS_MAX!r})) = 0)"
    )


def sql_hyperplane_bias_select(
    col: str, dim: int, planes: int, source: str, offset: int = 0
) -> str:
    """Mirror of operators.dedup.hyperplane_bias_stats: ONE-row SELECT of
    ``cn`` + per-plane biases ``cb{p}`` (DOUBLE). Two-level to match the
    Spark plan exactly: inner = exact DECIMAL(27,10) per-coordinate sums
    over the clean rows (order-independent, so partitioning can't move the
    bias), outer = each bias as a FIXED left-to-right double chain — the
    identical term order the Spark expression spells, so biases are
    bit-equal."""
    sums = ", ".join(
        f"SUM(CAST({col}[{i + 1}] AS DECIMAL(27,10))) AS s{i}" for i in range(dim)
    )
    biases = ", ".join(
        "(CAST(0.0 AS DOUBLE) + "
        + " + ".join(
            f"(CAST(s{i} AS DOUBLE) * ({_plane_coef(offset + p, i)}))"
            for i in range(dim)
        )
        + f") AS cb{p}"
        for p in range(planes)
    )
    return (
        f"SELECT cn, {biases} FROM (SELECT COUNT(*) AS cn, {sums} "
        f"FROM {source} WHERE {sql_center_clean_pred(col, dim)})"
    )


def sql_centered_hyperplane_bucket(
    col: str, dim: int, planes: int, offset: int = 0
) -> str:
    """Mirror of operators.dedup.centered_hyperplane_bucket — evaluate in a
    query cross-joined with the ``sql_hyperplane_bias_select`` row (reads
    ``cn`` / ``cb{p}``). Bit p is ``n·(x·c_p) > Σ(x)·c_p``; the projection
    chain is term-identical to the Spark expression, including the round-8
    ``cn = 0`` structural fallback (GREATEST/COALESCE → plain raw sign
    test on a fully-dirty bias basis — no-ops whenever ``cn > 0``).

    ``offset`` addresses band k of an OR-construction: coefficients AND
    biases both shift by it (bias ``cb{offset+p}`` — the bias select is
    emitted once for all ``bands*planes`` planes at offset 0, exactly like
    Spark's ``hyperplane_bias_stats(..., planes*bands)`` row that
    ``_centered_band_key_expr`` reads ``_cb{offset+p}`` from)."""
    parts = []
    for p in range(planes):
        proj = " + ".join(
            f"(CAST({col}[{i + 1}] AS DOUBLE) * ({_plane_coef(offset + p, i)}))"
            for i in range(dim)
        )
        parts.append(
            f"(CASE WHEN (CAST(GREATEST(cn, 1) AS DOUBLE) * ({proj}))"
            f" > COALESCE(cb{offset + p}, CAST(0.0 AS DOUBLE))"
            f" THEN CAST({2 ** p} AS BIGINT) ELSE 0 END)"
        )
    return "(CAST(0 AS BIGINT) + " + " + ".join(parts) + ")"


def sql_cone_gate(
    col: str, dim: int, planes: int = EMB_LSH_PLANES, source: str = "embeddings"
) -> str:
    """Mirror of operators.dedup.cone_gate: scalar BOOLEAN subquery
    replaying the ``center="auto"`` decision on the same rows — the raw
    sign-bucket histogram profiled by the two EXACT INTEGER comparisons
    (``n_buckets·4 < 2^planes AND max_bucket·4 > rows``; constants =
    CONE_GATE_BUCKET_DEN / CONE_GATE_SHARE_DEN). COALESCE pins the empty
    relation to FALSE (MAX over zero rows is NULL) exactly like the Spark
    side's ``n_rows > 0`` guard."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        CONE_GATE_BUCKET_DEN,
        CONE_GATE_SHARE_DEN,
    )

    b = sql_hyperplane_bucket(col, dim, planes)
    return (
        f"COALESCE((SELECT COUNT(*) * {CONE_GATE_BUCKET_DEN} < {1 << planes}"
        f" AND MAX(n) * {CONE_GATE_SHARE_DEN} > SUM(n)"
        f" FROM (SELECT {b} AS b, COUNT(*) AS n FROM {source} GROUP BY 1)),"
        f" FALSE)"
    )


def sql_hyperplane_band_keys(
    col: str, dim: int, bands: int, planes: int = EMB_LSH_PLANES
) -> str:
    """Mirror of operators.dedup.hyperplane_band_keys: list of ``bands``
    disjoint-keyspace OR-construction keys (band k = independent plane set
    at offset k*planes, shifted by k * 2^planes)."""
    keys = [
        f"({sql_hyperplane_bucket(col, dim, planes, offset=k * planes)}"
        f" + CAST({k * (1 << planes)} AS BIGINT))"
        for k in range(bands)
    ]
    return "[" + ", ".join(keys) + "]"


def sql_centered_hyperplane_band_keys(
    col: str, dim: int, bands: int, planes: int = EMB_LSH_PLANES
) -> str:
    """Mirror of operators.dedup.centered_hyperplane_band_keys: ``bands``
    disjoint-keyspace keys over MEAN-CENTERED buckets — band k = centered
    bucket at plane/bias offset ``k*planes``, shifted by ``k * 2^planes``.
    Evaluate in a query cross-joined with a ``sql_hyperplane_bias_select``
    row emitted for ALL ``bands*planes`` planes at offset 0."""
    keys = [
        f"({sql_centered_hyperplane_bucket(col, dim, planes, offset=k * planes)}"
        f" + CAST({k * (1 << planes)} AS BIGINT))"
        for k in range(bands)
    ]
    return "[" + ", ".join(keys) + "]"


def sql_shingle_seq_from_tokens(tok_col: str = "t", k: int = 3) -> str:
    """Mirror of functions.text.word_shingle_seq: POSITIONAL k-word
    shingles, duplicates kept — both engines emit the identical sequence
    (list_distinct's engine-specific reordering never enters)."""
    t = tok_col
    parts = " || ' ' || ".join(f"{t}[i + {j}]" for j in range(k))
    shingles = f"list_transform(range(1, len({t}) - {k - 2}), i -> {parts})"
    whole = f"[COALESCE(array_to_string({t}, ' '), '')]"
    return f"(CASE WHEN len({t}) >= {k} THEN {shingles} ELSE {whole} END)"


def sql_lower_median(value_expr: str, source_sql: str) -> str:
    """Scalar subquery: exact LOWER median of the non-null values of
    ``value_expr`` over ``source_sql`` (mirror of
    ``functions.stats.exact_lower_median`` — histogram + bounded
    cumulative window, NULLs excluded by spec)."""
    return f"""(
  SELECT v FROM (
    SELECT v, SUM(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      SUM(c) OVER () AS n
    FROM (SELECT {value_expr} AS v, COUNT(*) AS c
          FROM {source_sql} WHERE {value_expr} IS NOT NULL GROUP BY 1)
  ) WHERE cum * 2 >= n + n % 2 ORDER BY v LIMIT 1
)"""
