"""Multimodal queries — binary-column pipelines over synthesized image
payloads (the container has no codecs, so bytes are deterministic
md5-derived stand-ins; see operators/multimodal.py).

m_image_metadata is oracle-checked end-to-end THROUGH the pandas UDF: the
fake header parse is pure byte arithmetic, so DuckDB reproduces the UDF's
output from the same bytes — validating the Arrow batch plumbing, struct
return schema, and null handling, not just row counts. The numpy kernels
(entropy/blockiness, phash) are parity-tested against their Python specs
in tests/test_multimodal.py (the reference's Rust-vs-Python house style,
tests/test_rust_accelerated_ops.py:26-124).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.operators import multimodal as MM
from webscale_multimodal_datapipeline_spark.session import local_frame

# Mirror of fake_image_bytes in SQL: md5 hex chain -> 64 bytes.
_FAKE_HEX = (
    "md5(text) || md5(md5(text) || '1') || md5(md5(text) || '2') || md5(md5(text) || '3')"
)


def _with_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn("image_bytes", MM.fake_image_bytes("text"))


def m_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 metadata refiner through the pandas UDF (width/height/size/format
    from the byte header)."""
    df = MM.image_metadata_refiner().apply(_with_bytes(spark, sf_dir))
    return df.select(
        "doc_id", "image_width", "image_height", "image_file_size_bytes", "image_format"
    )


M_METADATA_SQL = f"""
SELECT doc_id,
       CASE WHEN h IS NULL THEN 0
            ELSE CAST(CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 2048 AS INTEGER)
       END AS image_width,
       CASE WHEN h IS NULL THEN 0
            ELSE CAST(CAST(('0x' || substr(h, 5, 4)) AS INTEGER) % 2048 AS INTEGER)
       END AS image_height,
       CASE WHEN h IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(64 AS BIGINT)
       END AS image_file_size_bytes,
       CASE WHEN h IS NULL THEN 'ERROR'
            ELSE CASE CAST(('0x' || substr(h, 9, 2)) AS INTEGER) % 4
                   WHEN 0 THEN 'JPEG' WHEN 1 THEN 'PNG' WHEN 2 THEN 'WEBP' ELSE 'GIF'
                 END
       END AS image_format
FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents)
"""
# NULL text -> NULL payload: the refiner's undecodable contract is
# (0, 0, 0, 'ERROR') — the oracle's bare CASE-ELSE otherwise rebadged a
# NULL header as 'GIF' (ARCHITECTURE section 28)


def m_metadata_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 -> F3 chain: UDF refiner followed by a NATIVE predicate filter —
    the mixed UDF/Catalyst pipeline shape (predicates over UDF-computed
    columns stay codegen'd)."""
    df = MM.image_metadata_refiner().apply(_with_bytes(spark, sf_dir))
    return (
        df.filter((F.col("image_width") >= 512) & (F.col("image_height") >= 512))
        .groupBy("image_format")
        .agg(F.count(F.lit(1)).alias("n"))
    )


M_META_FILTER_SQL = f"""
SELECT CASE CAST(('0x' || substr(h, 9, 2)) AS INTEGER) % 4
         WHEN 0 THEN 'JPEG' WHEN 1 THEN 'PNG' WHEN 2 THEN 'WEBP' ELSE 'GIF'
       END AS image_format,
       COUNT(*) AS n
FROM (SELECT {_FAKE_HEX} AS h FROM documents)
WHERE CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 2048 >= 512
  AND CAST(('0x' || substr(h, 5, 4)) AS INTEGER) % 2048 >= 512
GROUP BY 1
"""


# byte k (0-based) of the fake payload, as an INTEGER, from the hex chain
_BYTES_LIST = "list_transform(range(1, 65), i -> CAST(('0x' || substr(h, 2*i-1, 2)) AS INTEGER))"


def m_technical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 numpy kernel through the UDF — oracle-checked END TO END: the
    byte-grid entropy/blockiness math is reproduced in SQL (float32 cast
    quantizes away double-accumulation ulp; verified exact on the
    deterministic fixtures). 1e-5 parity vs the Python spec additionally
    in tests/test_multimodal.py."""
    df = MM.technical_quality_refiner().apply(_with_bytes(spark, sf_dir))
    return df.select(
        "doc_id", "image_compression_artifacts", "image_information_entropy"
    )


# Mirrors technical_quality_py over the 64-byte payload: bincount entropy
# (ascending byte value = numpy bincount order), 8-aligned boundary jumps
# (n8 = 64//8 - 1 = 7 boundaries) vs mean |diff| gradient, 0.6/0.4 blend
# with ratio score min(64/4096, 1) = 0.015625.
M_TECH_QUALITY_SQL = f"""
WITH b AS (
  SELECT doc_id, {_BYTES_LIST} AS b
  FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents)
  WHERE h IS NOT NULL
), ent AS (
  SELECT doc_id, -SUM((c / 64.0) * log2(c / 64.0)) AS entropy FROM (
    SELECT doc_id, v, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(b) AS v FROM b) GROUP BY doc_id, v
  ) GROUP BY doc_id
), blk AS (
  SELECT doc_id,
    list_sum(list_transform(range(1, 8), k -> abs(b[k*8 + 1] - b[k*8]))) / 7.0 AS jumps,
    list_sum(list_transform(range(2, 65), i -> abs(b[i] - b[i-1]))) / 63.0 + 1e-9 AS grads
  FROM b
)
SELECT d.doc_id,
       COALESCE(q.art, CAST(0.0 AS FLOAT)) AS image_compression_artifacts,
       COALESCE(q.ent, CAST(0.0 AS FLOAT)) AS image_information_entropy
FROM documents d
LEFT JOIN (
  SELECT doc_id,
         CAST(0.6 * least(jumps / (grads * 2.0), 1.0) + 0.4 * 0.015625 AS FLOAT)
           AS art,
         CAST(entropy AS FLOAT) AS ent
  FROM ent JOIN blk USING (doc_id)
) q USING (doc_id)
"""
# undecodable payload -> the quality kernel's (0.0, 0.0) contract; the
# whole score is computed INSIDE the join subquery because DuckDB's
# least() skips NULL args — least(NULL, 1.0) = 1.0, which would
# fabricate a 0.60625 score for the missing row


def m_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 phash dedup (key equality, unreadable -> id fallback) —
    oracle-checked END TO END: the oracle reproduces the DoubleGradient
    bit pattern as a '0'/'1' string (an equivalence-preserving encoding of
    the hex key, so survivor selection is identical)."""
    df = _with_bytes(spark, sf_dir)
    return MM.phash_dedup(df).select("doc_id", "source")


def _phash_bitkey_sql() -> str:
    """The 128 gradient-sign bits of phash_py over the 64-byte payload, as
    a concatenated bit string (equality-equivalent to the hex key)."""
    n = MM.PHASH_SIZE + 1  # 9x9 grid

    def g(r: int, c: int) -> str:
        flat = r * n + c
        byte_idx = (flat * 64) // (n * n)  # nearest-neighbor resample
        return f"b[{byte_idx + 1}]"

    bits = []
    for r in range(MM.PHASH_SIZE):  # horizontal gradients
        for c in range(1, n):
            bits.append(f"(CASE WHEN {g(r, c)} > {g(r, c - 1)} THEN '1' ELSE '0' END)")
    for r in range(1, n):  # vertical gradients
        for c in range(MM.PHASH_SIZE):
            bits.append(f"(CASE WHEN {g(r, c)} > {g(r - 1, c)} THEN '1' ELSE '0' END)")
    # flat concat() call — a 128-term `||` chain exceeds DuckDB's binder
    # recursion depth
    return "concat(" + ", ".join(bits) + ")"


M_PHASH_DEDUP_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn
  FROM (
    SELECT doc_id, source, {_phash_bitkey_sql()} AS k
    FROM (SELECT doc_id, source, {_BYTES_LIST} AS b
          FROM (SELECT doc_id, source, {_FAKE_HEX} AS h FROM documents))
  )
) WHERE rn = 1
"""


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling shape (1 row -> N frames via mapInPandas);
    counts frames per doc bucket."""
    df = _with_bytes(spark, sf_dir).withColumnRenamed("image_bytes", "video_bytes")
    frames = MM.frame_sample_map_in_pandas(df, every_n=4)
    return frames.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("doc_id").alias("n_videos"),
    )


M_FRAME_SQL = """
SELECT source,
       CAST(COUNT(*) * 4 AS BIGINT) AS n_frames,
       COUNT(DISTINCT doc_id) AS n_videos
FROM documents WHERE text IS NOT NULL GROUP BY source
"""
# NULL text -> NULL payload -> the frame expansion emits nothing


def m_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize (2x average-pool over the byte grid) — binary in,
    binary out through an Arrow-batched UDF, oracle-checked END TO END:
    the pooled payload's hex is reproduced byte-for-byte in SQL. Parity
    vs the numpy spec additionally in tests/test_multimodal.py."""
    df = MM.image_resize_refiner().apply(_with_bytes(spark, sf_dir))
    return df.select(
        "doc_id",
        F.lower(F.hex(F.col("image_resized_bytes"))).alias("resized_hex"),
        F.length("image_resized_bytes").alias("resized_len"),
        "image_resized_width",
        "image_resized_height",
    )


def _pooled_hex_sql() -> str:
    """2x2 truncating average pool of the 8x8 byte grid, emitted as hex
    (mirror of resize_pool_py)."""
    terms = []
    for r in range(4):
        for c in range(4):
            ks = [2 * r * 8 + 2 * c, 2 * r * 8 + 2 * c + 1,
                  (2 * r + 1) * 8 + 2 * c, (2 * r + 1) * 8 + 2 * c + 1]
            s = " + ".join(
                f"CAST(('0x' || substr(h, {2 * k + 1}, 2)) AS INTEGER)" for k in ks
            )
            terms.append(f"lpad(lower(to_hex(({s}) // 4)), 2, '0')")
    return " || ".join(terms)


M_RESIZE_SQL = f"""
SELECT doc_id,
       CASE WHEN h IS NULL THEN NULL ELSE {_pooled_hex_sql()} END AS resized_hex,
       CASE WHEN h IS NULL THEN NULL ELSE 16 END AS resized_len,
       4 AS image_resized_width,
       4 AS image_resized_height
FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents)
"""
# NULL payload -> NULL resized bytes (the UDF passes NULL through; the
# output dims are declared constants either way)


def m_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction (duration/RMS/zero-crossing-rate over the
    opaque payload) — the audio leg of the multimodal surface,
    oracle-checked END TO END (6-decimal rounding absorbs numpy's pairwise
    vs SQL's left-fold mean accumulation; verified exact on the fixtures).
    Parity vs the numpy spec additionally in tests/test_multimodal.py."""
    df = _with_bytes(spark, sf_dir).withColumnRenamed("image_bytes", "audio_bytes")
    out = MM.audio_features_refiner().apply(df)
    return out.select(
        "doc_id",
        F.round("audio_duration_s", 6).alias("audio_duration_s"),
        F.round("audio_rms", 6).alias("audio_rms"),
        F.round("audio_zcr", 6).alias("audio_zcr"),
    )


# Mirror of audio_features_py: x = byte - 128.0; rms = sqrt(mean(x^2));
# zcr = mean(signbit flips) over consecutive samples (signbit(x) <=> byte < 128).
M_AUDIO_SQL = f"""
SELECT doc_id,
  CASE WHEN h IS NULL THEN 0.0 ELSE ROUND(len(b) / 16000.0, 6) END
    AS audio_duration_s,
  CASE WHEN h IS NULL THEN 0.0
       ELSE ROUND(sqrt(list_sum(list_transform(b, x -> (x - 128.0) * (x - 128.0))) / len(b)), 6)
  END AS audio_rms,
  CASE WHEN h IS NULL THEN 0.0
       ELSE ROUND(CAST(len(list_filter(range(2, len(b) + 1), i -> (b[i] < 128) != (b[i-1] < 128)))
             AS DOUBLE) / (len(b) - 1), 6)
  END AS audio_zcr
FROM (SELECT doc_id, h, {_BYTES_LIST} AS b
      FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents))
"""
# NULL payload -> the audio kernel's silent-track contract (0.0 each);
# guard on h, NOT on b — list_transform over substr(NULL) yields a list
# of 64 NULLs, which is non-NULL and has len 64


def m_clip_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 embedding refiner through the lazy per-executor-singleton model
    UDF (numpy-checkpoint backend in-container; torch branch gated). The
    oracle pins the invariants the reference guarantees: output dim and
    L2 normalization of every emitted vector
    (``image_clip_embedding.py:134-169``)."""
    from webscale_multimodal_datapipeline_spark.operators import model_udfs as MU

    df = MU.clip_embedding_refiner(model_name="vitl14sim").apply(
        _with_bytes(spark, sf_dir)
    )
    emb = F.col("image_clip_emb_vitl14sim")
    sq = F.transform(emb, lambda x: x.cast("double") * x.cast("double"))
    norm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x))
    return df.select(
        "doc_id",
        F.size(emb).alias("dim"),
        (F.abs(norm - 1.0) < 1e-5).alias("unit_norm"),
    )


M_CLIP_EMB_SQL = """
SELECT doc_id, 64 AS dim,
       text IS NOT NULL AS unit_norm
FROM documents
"""
# NULL payload -> the reference's ZERO-VECTOR contract
# (image_clip_embedding.py:150-158): right dim, but norm 0, not 1


def m_visual_degradations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 multi-head degradation scores through the singleton model UDF;
    the oracle pins the every-row-scored invariant (payloads here are
    always decodable; NULL-score path covered in tests)."""
    from webscale_multimodal_datapipeline_spark.operators import model_udfs as MU

    df = MU.visual_degradations_refiner().apply(_with_bytes(spark, sf_dir))
    scored = F.lit(True)
    for h in MU.VD_HEADS:
        scored = scored & F.col(f"img_vd_{h}").isNotNull()
    return df.select("doc_id", scored.alias("scored"))


M_VD_SQL = """
SELECT doc_id, text IS NOT NULL AS scored FROM documents
"""
# NULL payload -> the degradation heads emit NULL scores (unscorable)


QUERIES = {
    "m_image_metadata": m_image_metadata,
    "m_resize": m_resize,
    "m_audio_features": m_audio_features,
    "m_metadata_filter_chain": m_metadata_filter_chain,
    "m_technical_quality": m_technical_quality,
    "m_phash_dedup": m_phash_dedup,
    "m_frame_sample": m_frame_sample,
    "m_clip_embedding": m_clip_embedding,
    "m_visual_degradations": m_visual_degradations,
}

ORACLE = {
    "m_image_metadata": M_METADATA_SQL,
    "m_metadata_filter_chain": M_META_FILTER_SQL,
    "m_technical_quality": M_TECH_QUALITY_SQL,
    "m_resize": M_RESIZE_SQL,
    "m_audio_features": M_AUDIO_SQL,
    "m_phash_dedup": M_PHASH_DEDUP_SQL,
    "m_frame_sample": M_FRAME_SQL,
    "m_clip_embedding": M_CLIP_EMB_SQL,
    "m_visual_degradations": M_VD_SQL,
}


def m_frame_sample_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same frame-sampling aggregate as ``m_frame_sample`` but through the
    genuine Spark-4 Python UDTF + LATERAL path
    (`operators/multimodal.py::frame_sample_lateral_udtf`) instead of the
    mapInPandas emulation — both engine forms of the reference's 1→N
    expansion share this oracle."""
    df = _with_bytes(spark, sf_dir).withColumnRenamed("image_bytes", "video_bytes")
    frames = MM.frame_sample_lateral_udtf(spark, df, every_n=4)
    return frames.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("doc_id").alias("n_videos"),
    )


QUERIES["m_frame_sample_udtf"] = m_frame_sample_udtf
ORACLE["m_frame_sample_udtf"] = M_FRAME_SQL


# ---------------------------------------------------------------------------
# Perceptual-hash blocklist filter (known-bad content removal)
# ---------------------------------------------------------------------------


def m_phash_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-bad-content filter: drop every image whose perceptual hash
    appears in a curated blocklist — the standard safety/compliance gate
    in web-scale image pipelines (licensed-content and abuse-hash lists
    are distributed exactly as hash sets). The blocklist here is the
    phash set of a deterministic slice (``doc_id % 97 == 0``), standing
    in for an externally-supplied list.

    Scale shape: hash-list joins are THE broadcast case — real blocklists
    are thousands-to-millions of fixed-width keys vs billions of corpus
    rows, so the anti-join builds map-side with zero corpus shuffle.
    Unreadable images (NULL phash) are never silently dropped: the
    anti-join keys on the phash only when present (NULL != anything).
    """
    df = _with_bytes(spark, sf_dir)
    keyed = df.withColumn("_phash", MM.phash_udf_for("fake")(F.col("image_bytes")))
    block = (
        keyed.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("_phash").alias("_bad"))
        .where(F.col("_bad").isNotNull())
        .distinct()
    )
    return (
        keyed.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(block), keyed["_phash"] == block["_bad"], "left_anti")
        .select("doc_id", "source")
    )


M_PHASH_BLOCKLIST_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, {_phash_bitkey_sql()} AS k
  FROM (SELECT doc_id, source, {_BYTES_LIST} AS b
        FROM (SELECT doc_id, source, {_FAKE_HEX} AS h FROM documents))
), block AS (
  SELECT DISTINCT k FROM hashed WHERE doc_id % 97 = 0 AND k IS NOT NULL
)
SELECT h.doc_id, h.source
FROM hashed h LEFT JOIN block b ON h.k = b.k
WHERE h.doc_id % 97 <> 0 AND b.k IS NULL
"""

QUERIES["m_phash_blocklist"] = m_phash_blocklist
ORACLE["m_phash_blocklist"] = M_PHASH_BLOCKLIST_SQL


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing (SDXL-style multimodal training prep)
# ---------------------------------------------------------------------------

# (bucket_id, name, bw, bh) — the canonical small bucket set; nearest
# bucket by |w*bh - h*bw| (integer cross-multiplication: no division, no
# float log, exact cross-engine), ties to the lowest bucket_id.
_ASPECT_BUCKETS = (
    (0, "1:1", 1, 1),
    (1, "4:3", 4, 3),
    (2, "3:4", 3, 4),
    (3, "16:9", 16, 9),
    (4, "9:16", 9, 16),
)


def m_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing — the SDXL/NaViT-style training-prep step
    that groups images into fixed aspect buckets so batches share a
    shape (each bucket trains at its own resolution). Assignment:
    nearest of five canonical ratios by the EXACT integer cross-
    multiplication |w·bh − h·bw| (no float ratio, so the bucket edge is
    bit-identical cross-engine); degenerate 0-dimension images are
    excluded (they fail the metadata filter upstream anyway).

    Scale shape: metadata math only — the 5-row bucket table broadcasts
    into a codegen'd argmin via ``min(struct(score, bucket))`` (ONE
    map-side-combinable aggregate per doc, no window over the corpus),
    then a bounded per-bucket rollup."""
    df = MM.image_metadata_refiner().apply(_with_bytes(spark, sf_dir)).select(
        "doc_id", "image_width", "image_height"
    ).filter((F.col("image_width") > 0) & (F.col("image_height") > 0))
    b = local_frame(
        spark,
        list(_ASPECT_BUCKETS), "bucket_id int, bucket string, bw int, bh int"
    )
    scored = df.join(F.broadcast(b)).select(
        "doc_id",
        F.struct(
            F.abs(
                F.col("image_width") * F.col("bh")
                - F.col("image_height") * F.col("bw")
            ).alias("s"),
            F.col("bucket_id").alias("i"),
            F.col("bucket").alias("b"),
        ).alias("_sc"),
    )
    best = scored.groupBy("doc_id").agg(F.min("_sc").alias("_m"))
    return (
        best.groupBy(F.col("_m.b").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


M_ASPECT_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 2048 AS INTEGER) AS w,
         CAST(CAST(('0x' || substr(h, 5, 4)) AS INTEGER) % 2048 AS INTEGER) AS hh
  FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents)
), scored AS (
  SELECT doc_id, bucket,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY ABS(w * bh - hh * bw), bucket_id) AS rn
  FROM dims
  CROSS JOIN (VALUES {", ".join(f"({i}, '{nm}', {bw}, {bh})" for i, nm, bw, bh in _ASPECT_BUCKETS)})
       AS b(bucket_id, bucket, bw, bh)
  WHERE w > 0 AND hh > 0
)
SELECT bucket, COUNT(*) AS n_images
FROM scored WHERE rn = 1
GROUP BY bucket
"""

QUERIES["m_aspect_bucket"] = m_aspect_bucket
ORACLE["m_aspect_bucket"] = M_ASPECT_SQL


# ---------------------------------------------------------------------------
# Video scene-cut detection (frame-expansion UDTF -> native window analytics)
# ---------------------------------------------------------------------------

_SCENE_CUT_THRESHOLD = 32.0  # mean-luma jump that counts as a cut


def m_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over sampled video frames: per-frame mean
    luminance, then a cut wherever the jump between consecutive frames
    exceeds the threshold — the standard shot-boundary heuristic, and the
    shape every video-curation pipeline needs between frame sampling and
    clip selection (sample → per-frame feature → temporal window →
    segment).

    Pipeline shape under test: the 1→N ``mapInPandas`` frame expansion
    (``operators/multimodal.py::frame_sample_map_in_pandas`` — the
    reference's UDTF pattern) feeds NATIVE window analytics — the frame
    'luma' is codegen'd byte arithmetic over the frame payload's hex (no
    second UDF), and the lag/compare runs in one per-video WindowExec.
    Frame 'decode' is the deterministic 4-byte slicer (container has no
    codecs); a real build swaps the slicer, nothing downstream changes.

    Scale shape: frames explode 4x the video rows but stay row-local
    (mapInPandas, no shuffle); the only exchange is the per-video window
    partition. Output is one row per video — never frame-cardinality."""
    df = _with_bytes(spark, sf_dir).withColumnRenamed("image_bytes", "video_bytes")
    frames = MM.frame_sample_map_in_pandas(
        df.select("doc_id", "video_bytes"), every_n=4
    )
    h = F.lower(F.hex("frame_bytes"))
    luma_terms = [
        F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("double") for i in range(4)
    ]
    luma = (luma_terms[0] + luma_terms[1] + luma_terms[2] + luma_terms[3]) / 4.0
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    flagged = (
        frames.select("doc_id", "frame_index", luma.alias("_luma"))
        .withColumn("_prev", F.lag("_luma").over(w))
        .withColumn(
            "_cut",
            F.when(
                F.col("_prev").isNotNull()
                & (F.abs(F.col("_luma") - F.col("_prev")) > _SCENE_CUT_THRESHOLD),
                1,
            ).otherwise(0),
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("_cut").alias("n_cuts"),
        )
        .orderBy("doc_id")
    )


# Frame i (i=0..3) of the 64-byte payload = bytes [4i, 4i+4); luma_i =
# (b0+b1+b2+b3)/4.0; cut_i = |luma_i - luma_{i-1}| > threshold. Exact
# quarters of integer sums -> the comparison is float-exact cross-engine.
def _scene_luma_sql(i: int) -> str:
    terms = " + ".join(
        f"CAST(('0x' || substr(h, {8 * i + 2 * j + 1}, 2)) AS INTEGER)" for j in range(4)
    )
    return f"(({terms}) / 4.0)"


M_SCENE_SQL = f"""
WITH b AS (
  SELECT doc_id, {_FAKE_HEX} AS h FROM documents
  WHERE text IS NOT NULL  -- NULL payload emits no frames, hence no row
), lumas AS (
  SELECT doc_id, {", ".join(f"{_scene_luma_sql(i)} AS l{i}" for i in range(4))}
  FROM b
)
SELECT doc_id,
       CAST(4 AS BIGINT) AS n_frames,
       CAST({" + ".join(f"(CASE WHEN abs(l{i} - l{i - 1}) > {_SCENE_CUT_THRESHOLD} THEN 1 ELSE 0 END)" for i in range(1, 4))} AS BIGINT) AS n_cuts
FROM lumas
ORDER BY doc_id
"""

QUERIES["m_scene_cuts"] = m_scene_cuts
ORACLE["m_scene_cuts"] = M_SCENE_SQL




def m_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGES by perceptual-hash hamming distance — D2's
    exact-key dedup (`image_phash_dedup.py:48-51`) extended to the
    near-dup regime, the image-side mirror of ``d_simhash_near_pairs``.

    The synthetic corpus has no true image near-dups (md5-derived
    payloads are hamming-~64 apart), so the query unions in a PERTURBED
    TWIN for every 50th doc — the payload with byte 32 forced to 0xFF,
    which can flip at most the 4 gradient bits that touch grid cell
    (4,4) — giving a deterministic hamming<=4 near-dup population that
    exercises the full contract at every scale (both engines build the
    same twins).

    Chunk-LSH on the 128-bit DoubleGradient hash: 8 chunks of 16 bits;
    candidate pairs share >= 1 exact chunk (guaranteed recall for
    hamming <= 7 by pigeonhole — the twins are always found), verified
    by the full hamming <= 16. Scale shape: the corpus shuffles as
    (chunk_idx, chunk_value) keys — never an all-pairs product; the
    verify runs only on bucket collisions; hamming is 8 codegen'd
    conv/xor/bit_count terms over the hex key — no UDF after the hash.
    """
    df = _with_bytes(spark, sf_dir)
    twins = df.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.expr("substring(image_bytes, 1, 31)"),
            F.lit(bytes([255])),
            F.expr("substring(image_bytes, 33, 32)"),
        ).alias("image_bytes"),
    )
    corpus = df.select("doc_id", "image_bytes").unionByName(twins)
    keyed = corpus.select(
        "doc_id",
        MM.phash_udf_for("fake")(F.col("image_bytes")).alias("k"),
    ).where(F.col("k").isNotNull())
    chunks = keyed.select(
        "doc_id",
        "k",
        F.posexplode(
            F.array(*[F.substring("k", i * 4 + 1, 4) for i in range(8)])
        ).alias("c", "v"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.c") == F.col("r.c"))
            & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_l"),
            F.col("l.k").alias("kl"),
            F.col("r.doc_id").alias("id_r"),
            F.col("r.k").alias("kr"),
        )
        .distinct()
    )
    ham = sum(
        F.bit_count(
            F.conv(F.substring("kl", i * 4 + 1, 4), 16, 10)
            .cast("int")
            .bitwiseXOR(F.conv(F.substring("kr", i * 4 + 1, 4), 16, 10).cast("int"))
        )
        for i in range(8)
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= 16)
        .select("id_l", "id_r", "hamming")
    )


_PHASH_CHUNKS = [
    f"concat_ws('|', '{c}', substr(k, {c * 16 + 1}, 16))" for c in range(8)
]

M_PHASH_NEAR_DUP_SQL = f"""
WITH base AS (
  SELECT doc_id, {_BYTES_LIST} AS b
  FROM (SELECT doc_id, {_FAKE_HEX} AS h FROM documents)
), corpus AS (
  SELECT doc_id, b FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         list_concat(list_concat(b[1:31], [255]), b[33:64]) AS b
  FROM base WHERE doc_id % 50 = 0
), hashed AS (
  SELECT doc_id, {_phash_bitkey_sql()} AS k FROM corpus
), chunked AS (
  SELECT doc_id, k, unnest([{', '.join(_PHASH_CHUNKS)}]) AS chunk FROM hashed
), pairs AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r,
         list_sum(list_transform(range(1, 129),
           i -> CASE WHEN substr(l.k, i, 1) <> substr(r.k, i, 1)
                THEN 1 ELSE 0 END)) AS hamming
  FROM chunked l JOIN chunked r
    ON l.chunk = r.chunk AND l.doc_id < r.doc_id
)
SELECT id_l, id_r, CAST(hamming AS INTEGER) AS hamming
FROM pairs WHERE hamming <= 16
"""

QUERIES["m_phash_near_dup"] = m_phash_near_dup
ORACLE["m_phash_near_dup"] = M_PHASH_NEAR_DUP_SQL


# ---------------------------------------------------------------------------
# JPEG metadata scrub (EXIF/COM removal)
# ---------------------------------------------------------------------------


def synthetic_jpeg_bytes(doc_id_col: str) -> F.Column:
    """STRUCTURALLY REAL JPEG built from codegen'd hex: SOI, JFIF APP0,
    an EXIF APP1 with doc_id-keyed payload length, a COM segment, a
    genuine SOF0 carrying doc_id-derived dimensions, EOI. Total length
    has the closed form 55 + (id%50+10) + (id%10+5); post-scrub 41."""
    did = F.col(doc_id_col)
    k = did % 50 + 10  # EXIF payload bytes
    c = did % 10 + 5  # COM payload bytes
    w = did % 2000 + 8
    h = did % 1000 + 8
    hex4 = lambda x: F.lpad(F.hex(x.cast("bigint")), 4, "0")  # noqa: E731
    return F.unhex(
        F.concat(
            F.lit("FFD8"),
            F.lit("FFE000104A46494600010200000100010000"),  # APP0 JFIF (14-byte payload)
            F.lit("FFE1"), hex4(k + 8), F.lit("457869660000"), F.repeat(F.lit("41"), k.cast("int")),
            F.lit("FFFE"), hex4(c + 2), F.repeat(F.lit("42"), c.cast("int")),
            F.lit("FFC00011"), F.lit("08"), hex4(h), hex4(w),
            F.lit("03011100021100031100"),
            F.lit("FFD9"),
        )
    )


def m_exif_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene for image corpora: strip EXIF (APP1) and comment (COM)
    segments from real JPEG byte streams, keeping pixels byte-identical.

    The fixture is a STRUCTURALLY REAL JPEG built with codegen'd hex
    expressions — SOI, JFIF APP0, an EXIF APP1 whose payload length is
    keyed on doc_id, a COM segment, a genuine SOF0 carrying the
    dimensions, EOI — so the scrub UDF exercises true segment walking
    and the post-scrub metadata comes from the REAL header parser
    (``parse_real_header``'s SOF scan), not the fake-byte path. The
    oracle pins the closed-form byte accounting: every length both
    engines report is a theorem about the segment structure.

    Scale shape: construction + scrub + parse are all per-row (one
    Arrow-batched UDF pass, no shuffle); the rollup is the only
    exchange. At 100 TB the scrub streams: no decode, no re-encode,
    output bytes ≤ input bytes."""
    from webscale_multimodal_datapipeline_spark.operators.multimodal import (
        image_metadata_refiner,
        jpeg_scrub_udf,
    )

    d = load_table(spark, sf_dir, "documents")
    img = d.select("doc_id", synthetic_jpeg_bytes("doc_id").alias("image_bytes"))
    scrubbed = img.select(
        "doc_id",
        F.length("image_bytes").alias("orig_len"),
        jpeg_scrub_udf()(F.col("image_bytes")).alias("image_bytes"),
    )
    parsed = image_metadata_refiner(backend="fake").apply(scrubbed)
    return parsed.select(
        "doc_id",
        "orig_len",
        F.length("image_bytes").alias("scrubbed_len"),
        (F.col("orig_len") - F.length("image_bytes")).alias("bytes_removed"),
        "image_width",
        "image_height",
        "image_format",
    )


M_EXIF_SCRUB_SQL = """
SELECT doc_id,
       CAST(55 + (doc_id % 50 + 10) + (doc_id % 10 + 5) AS BIGINT) AS orig_len,
       CAST(41 AS BIGINT) AS scrubbed_len,
       CAST(14 + (doc_id % 50 + 10) + (doc_id % 10 + 5) AS BIGINT) AS bytes_removed,
       CAST(doc_id % 2000 + 8 AS INTEGER) AS image_width,
       CAST(doc_id % 1000 + 8 AS INTEGER) AS image_height,
       'JPEG' AS image_format
FROM documents
"""

QUERIES["m_exif_scrub"] = m_exif_scrub
ORACLE["m_exif_scrub"] = M_EXIF_SCRUB_SQL


def m_dup_frame_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-frame audit over the sampled video frames —
    the static-scene / freeze-frame detector a video curation pipeline
    runs before paying for embeddings: each sampled frame (the real
    mapInPandas 1→N expansion, ``frame_sample_map_in_pandas``) is
    reduced to a coarse 2-bit-per-byte signature (the perceptual-hash
    quantization idea at its cheapest), and a video's duplicate mass is
    n_frames − distinct(signatures). Reported per source as exact
    integer counts + one ratio.

    NULL-payload videos are excluded by spec on both engines (the
    frame sampler skips None payloads; the mirror filters NULL text).

    The signature math is per-frame-local (JVM expressions over the
    frame bytes), so the only shuffles are the per-video distinct and
    the source rollup."""
    df = _with_bytes(spark, sf_dir).withColumnRenamed("image_bytes", "video_bytes")
    frames = MM.frame_sample_map_in_pandas(df, every_n=1)
    sig = F.expr(
        "concat_ws('', transform(sequence(1, 4), "
        "k -> cast(shiftright(cast(conv(hex(substring(frame_bytes, k, 1)), 16, 10) AS int), 6) AS string)))"
    )
    per_video = (
        frames.select("source", "doc_id", sig.alias("_sig"))
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("nf"),
            F.countDistinct("_sig").alias("nd"),
        )
    )
    return (
        per_video.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_videos"),
            F.sum("nf").cast("long").alias("n_frames"),
            F.sum(F.col("nf") - F.col("nd")).cast("long").alias("n_dup_frames"),
        )
        .select(
            "source",
            "n_videos",
            "n_frames",
            "n_dup_frames",
            F.round(
                F.col("n_dup_frames").cast("double") / F.col("n_frames").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


# frame i (0-based, 16 frames of 4 bytes over the 64-byte payload):
# hex chars 8i+1 .. 8i+8; byte j of frame i quantized to its top 2 bits.
_FRAME_SIG = (
    "list_aggregate(list_transform(range(0, 4), j -> "
    "CAST(CAST(('0x' || substr(h, 8 * i + 2 * j + 1, 2)) AS INTEGER) // 64 AS VARCHAR)"
    "), 'string_agg', '')"
)

M_DUP_FRAME_SQL = f"""
WITH vids AS (
  SELECT source, doc_id, {_FAKE_HEX} AS h FROM documents
  WHERE text IS NOT NULL
), frames AS (
  SELECT source, doc_id, unnest(range(0, 16)) AS i, h FROM vids
), sigs AS (
  SELECT source, doc_id, {_FRAME_SIG} AS sig FROM frames
), per_video AS (
  SELECT source, doc_id, COUNT(*) AS nf, COUNT(DISTINCT sig) AS nd
  FROM sigs GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_videos,
       CAST(SUM(nf) AS BIGINT) AS n_frames,
       CAST(SUM(nf - nd) AS BIGINT) AS n_dup_frames,
       ROUND(CAST(SUM(nf - nd) AS DOUBLE) / CAST(SUM(nf) AS DOUBLE), 6) AS dup_ratio
FROM per_video GROUP BY source ORDER BY source
"""

QUERIES["m_dup_frame_ratio"] = m_dup_frame_ratio
ORACLE["m_dup_frame_ratio"] = M_DUP_FRAME_SQL


# ---------------------------------------------------------------------------
# Interleaved multimodal packing (round 9, session 2) — the VLM-training
# window layout: text runs + atomic image blocks, packed next-fit in
# document order (operators/packing.py::interleave_pack; see the module
# docstring's discipline map). The oracle replays the per-shard fold with
# a recursive CTE, so item->window assignment AND offsets are hash-exact.
# ---------------------------------------------------------------------------

from webscale_multimodal_datapipeline_spark.operators import packing as OPK  # noqa: E402
from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ  # noqa: E402
from webscale_multimodal_datapipeline_spark.functions.text import (  # noqa: E402
    bpe_ish_token_count,
)

_IVT = OPK.INTERLEAVE_IMG_TOKENS
_IVB = OPK.PACK_BUDGET
_IVS = OPK.PACK_SHARDS


def _interleave_items(d: DataFrame, img_tokens: int = _IVT) -> DataFrame:
    """Synthetic interleaved corpus: every doc contributes its text run
    (item 0, BPE-ish token cost) followed by ``doc_id % 3`` images
    (atomic INTERLEAVE_IMG_TOKENS blocks) — the deterministic stand-in
    for an MMC4-style doc->images mapping.

    Null contract (poisoned-fixture parity): a NULL doc_id has no layout
    identity (no shard, no image count — and Spark/DuckDB order NULL
    keys differently inside the fold) so those rows are excluded; a NULL
    text is a zero-cost run (COALESCE — an un-coalesced NULL cost turns
    the fold's cursor arithmetic NaN)."""
    d = d.filter(F.col("doc_id").isNotNull())
    text_items = d.select(
        "doc_id",
        F.lit(0).alias("item_idx"),
        F.lit("text").alias("item_type"),
        F.coalesce(
            bpe_ish_token_count("text").cast("bigint"), F.lit(0)
        ).alias("token_cost"),
    )
    n_img = (F.col("doc_id") % 3).cast("int")
    img_items = (
        d.filter(n_img >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n_img)).alias("item_idx"),
        )
        .select(
            "doc_id",
            "item_idx",
            F.lit("image").alias("item_type"),
            F.lit(int(img_tokens)).cast("bigint").alias("token_cost"),
        )
    )
    return text_items.unionByName(img_items)


def m_interleave_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text window assignment: per item (text run or
    image) its shard, window, and offset inside the window. Whole docs
    co-shard so text stays adjacent to its images; images are atomic."""
    d = load_table(spark, sf_dir, "documents")
    return OPK.interleave_pack(
        _interleave_items(d), budget=_IVB, n_shards=_IVS
    ).orderBy("shard", "doc_id", "item_idx")


M_INTERLEAVE_PACK_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, 0 AS item_idx, 'text' AS item_type,
         COALESCE(CAST({OQ.sql_bpe_token_count('text')} AS BIGINT), 0)
           AS token_cost
  FROM documents WHERE doc_id IS NOT NULL
  UNION ALL
  SELECT doc_id, CAST(i AS INT) AS item_idx, 'image' AS item_type,
         CAST({_IVT} AS BIGINT) AS token_cost
  FROM (SELECT doc_id, unnest(range(1, doc_id % 3 + 1)) AS i
        FROM documents WHERE doc_id IS NOT NULL)
), sh AS (
  SELECT *, CAST({OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % {_IVS} AS INT)
         AS shard
  FROM base
), s AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY shard ORDER BY doc_id, item_idx
         ) AS rn
  FROM sh
), rec AS (
  SELECT shard, rn, doc_id, item_idx, item_type, token_cost,
         CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_offset,
         token_cost AS fill
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.item_idx, s.item_type, s.token_cost,
         CASE WHEN rec.fill + s.token_cost <= {_IVB}
              THEN rec.pack_id ELSE rec.pack_id + 1 END,
         CASE WHEN rec.fill + s.token_cost <= {_IVB}
              THEN rec.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN rec.fill + s.token_cost <= {_IVB}
              THEN rec.fill + s.token_cost ELSE s.token_cost END
  FROM s JOIN rec ON s.shard = rec.shard AND s.rn = rec.rn + 1
)
SELECT shard, doc_id, item_idx, item_type, token_cost, pack_id, pack_offset
FROM rec ORDER BY shard, doc_id, item_idx
"""


def m_interleave_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window modality mix over the interleaved layout: items, text
    vs vision token mass, fill fraction — the loader-side audit that
    image-heavy windows are not starving text (and vice versa)."""
    d = load_table(spark, sf_dir, "documents")
    p = OPK.interleave_pack(_interleave_items(d), budget=_IVB, n_shards=_IVS)
    return (
        p.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.when(F.col("item_type") == "image", 1).otherwise(0))
            .cast("bigint")
            .alias("n_images"),
            F.sum(
                F.when(
                    F.col("item_type") == "text", F.col("token_cost")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("text_tokens"),
            F.sum(
                F.when(
                    F.col("item_type") == "image", F.col("token_cost")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("vision_tokens"),
            F.round(
                F.sum("token_cost") * 1.0 / F.lit(_IVB), 6
            ).alias("fill_frac"),
        )
        .orderBy("shard", "pack_id")
    )


M_INTERLEAVE_DENSITY_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, 0 AS item_idx,  'text' AS item_type,
         COALESCE(CAST({OQ.sql_bpe_token_count('text')} AS BIGINT), 0)
           AS token_cost
  FROM documents WHERE doc_id IS NOT NULL
  UNION ALL
  SELECT doc_id, CAST(i AS INT), 'image',
         CAST({_IVT} AS BIGINT)
  FROM (SELECT doc_id, unnest(range(1, doc_id % 3 + 1)) AS i
        FROM documents WHERE doc_id IS NOT NULL)
), sh AS (
  SELECT *, CAST({OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % {_IVS} AS INT)
         AS shard
  FROM base
), s AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY shard ORDER BY doc_id, item_idx
         ) AS rn
  FROM sh
), rec AS (
  SELECT shard, rn, item_type, token_cost,
         CAST(0 AS BIGINT) AS pack_id, token_cost AS fill
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.item_type, s.token_cost,
         CASE WHEN rec.fill + s.token_cost <= {_IVB}
              THEN rec.pack_id ELSE rec.pack_id + 1 END,
         CASE WHEN rec.fill + s.token_cost <= {_IVB}
              THEN rec.fill + s.token_cost ELSE s.token_cost END
  FROM s JOIN rec ON s.shard = rec.shard AND s.rn = rec.rn + 1
)
SELECT shard, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CASE WHEN item_type = 'image' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_images,
       CAST(SUM(CASE WHEN item_type = 'text' THEN token_cost ELSE 0 END)
            AS BIGINT) AS text_tokens,
       CAST(SUM(CASE WHEN item_type = 'image' THEN token_cost ELSE 0 END)
            AS BIGINT) AS vision_tokens,
       ROUND(SUM(token_cost) * 1.0 / {_IVB}, 6) AS fill_frac
FROM rec GROUP BY shard, pack_id ORDER BY shard, pack_id
"""

QUERIES["m_interleave_pack"] = m_interleave_pack
ORACLE["m_interleave_pack"] = M_INTERLEAVE_PACK_SQL
QUERIES["m_interleave_density"] = m_interleave_density
ORACLE["m_interleave_density"] = M_INTERLEAVE_DENSITY_SQL


# ---------------------------------------------------------------------------
# Interleave packing at the PRODUCTION vision-token grid (round 10,
# VERDICT r9 task 4): the rows above pin IMG_TOKENS=64 to the short
# synthetic docs; production VLM towers spend 256-576 vision tokens per
# image (a 16x16 grid at 256) inside 4096-8192-token windows. This row
# runs the SAME fold at IMG_TOKENS=256 / budget=4096 — image-dominated
# windows (an image is now ~6x the median text run, most windows close on
# an image boundary), the cost regime the 64-token pin never reaches.
# The oracle replays the identical recursive fold at the same constants.
# ---------------------------------------------------------------------------

_IVT256 = 256
_IVB4096 = 4096


def _interleave_pack_sql(img_tokens: int, budget: int) -> str:
    """The m_interleave_pack oracle parametrized by (image cost, window
    budget) — textually the same recursive replay as M_INTERLEAVE_PACK_SQL
    with the two constants swapped."""
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, 0 AS item_idx, 'text' AS item_type,
         COALESCE(CAST({OQ.sql_bpe_token_count('text')} AS BIGINT), 0)
           AS token_cost
  FROM documents WHERE doc_id IS NOT NULL
  UNION ALL
  SELECT doc_id, CAST(i AS INT) AS item_idx, 'image' AS item_type,
         CAST({img_tokens} AS BIGINT) AS token_cost
  FROM (SELECT doc_id, unnest(range(1, doc_id % 3 + 1)) AS i
        FROM documents WHERE doc_id IS NOT NULL)
), sh AS (
  SELECT *, CAST({OQ.sql_md5_long("CAST(doc_id AS VARCHAR)")} % {_IVS} AS INT)
         AS shard
  FROM base
), s AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY shard ORDER BY doc_id, item_idx
         ) AS rn
  FROM sh
), rec AS (
  SELECT shard, rn, doc_id, item_idx, item_type, token_cost,
         CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_offset,
         token_cost AS fill
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.item_idx, s.item_type, s.token_cost,
         CASE WHEN rec.fill + s.token_cost <= {budget}
              THEN rec.pack_id ELSE rec.pack_id + 1 END,
         CASE WHEN rec.fill + s.token_cost <= {budget}
              THEN rec.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN rec.fill + s.token_cost <= {budget}
              THEN rec.fill + s.token_cost ELSE s.token_cost END
  FROM s JOIN rec ON s.shard = rec.shard AND s.rn = rec.rn + 1
)
SELECT shard, doc_id, item_idx, item_type, token_cost, pack_id, pack_offset
FROM rec ORDER BY shard, doc_id, item_idx
"""


def m_interleave_pack_vit256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved window assignment at the production cost model:
    256 vision tokens per image, 4096-token windows (see section
    comment). Same operator and fold as m_interleave_pack."""
    d = load_table(spark, sf_dir, "documents")
    return OPK.interleave_pack(
        _interleave_items(d, img_tokens=_IVT256),
        budget=_IVB4096,
        n_shards=_IVS,
    ).orderBy("shard", "doc_id", "item_idx")


QUERIES["m_interleave_pack_vit256"] = m_interleave_pack_vit256
ORACLE["m_interleave_pack_vit256"] = _interleave_pack_sql(_IVT256, _IVB4096)
