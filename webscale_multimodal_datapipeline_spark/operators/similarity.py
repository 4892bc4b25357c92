"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline; hyperplane-LSH bucketed
top-k and an IVF (KMeans coarse-quantizer) index as the scale paths. At
100 TB the approximate variants replace the cross join with a
bucket/cluster equi-join — the probe side is broadcast when the query set
is small, and the corpus can be written partitioned by cluster id so a
probe touches only ``n_probe / n_clusters`` of the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.functions import vectors as VX
from webscale_multimodal_datapipeline_spark.operators.dedup import hyperplane_bucket
from webscale_multimodal_datapipeline_spark.session import local_frame


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity.

    ``queries`` is expected to be small → broadcast; the corpus is scanned
    once, similarity is a codegen'd expression, and the per-query top-k is a
    window over (query, score). Ties broken by corpus id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(emb_col).alias("_q_emb"),
            VX.l2_norm(emb_col).alias("_q_norm"),
        )
    )
    # corpus norm precomputed once per row; cosine in the join is a single
    # dot product + multiply (identical values to cosine()).
    scored = (
        corpus.withColumn("_c_norm", VX.l2_norm(emb_col))
        .crossJoin(q)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            VX.guarded_div(
                VX.dot(F.col(emb_col), F.col("_q_emb")),
                F.col("_c_norm") * F.col("_q_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    n_clusters: int = 8,
    seed: int = 42,
    emb_col: str = "embedding",
    max_iter: int = 20,
):
    """Fit the IVF coarse quantizer and assign every corpus row a cluster.

    KMeans via ``pyspark.ml`` (replaces the reference's hand-rolled
    distributed Lloyd's loop, ``models/kmeans/distributed_trainer.py`` —
    SURVEY §2.10). Returns ``(assigned_df, centroids)`` where
    ``assigned_df`` has a ``_cluster`` int column and ``centroids`` is the
    small driver-side list (n_clusters × dim) used to pick probe targets.

    Scale: the fit can run on a ``.sample()`` of the corpus; assignment is
    one model.transform pass. Writing the corpus ``partitionBy("_cluster")``
    turns every later probe into a partition-pruned scan.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # contentless vectors (NULL array / NULL element) can't be quantized:
    # they're excluded from the index by spec (array_to_vector NPEs on them)
    vec = corpus.filter(VX.is_valid_vector(emb_col)).withColumn(
        "_v", array_to_vector(F.col(emb_col).cast("array<double>"))
    )
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="_v", predictionCol="_cluster"
    ).fit(vec)
    assigned = model.transform(vec).drop("_v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus rows are bucketed by nearest KMeans
    centroid; each query scores only the ``n_probe`` clusters whose
    centroids are nearest (squared-L2) to it.

    The centroid table is tiny (n_clusters rows) → the query→probe-cluster
    expansion is a broadcast cross join; the corpus-side join is a cluster
    equi-join, never a cross join. Recall tunes via ``n_probe``.
    """
    spark = corpus.sparkSession
    assigned, centroids = ivf_assign(corpus, n_clusters, seed, emb_col)
    cent_df = F.broadcast(
        local_frame(
            spark,
            [(cid, c) for cid, c in enumerate(centroids)],
            f"_cluster int, _centroid array<double>",
        )
    )
    # squared L2 distance query↔centroid, rank, keep n_probe per query
    d2 = F.aggregate(
        F.zip_with(
            F.col(emb_col).cast("array<double>"),
            F.col("_centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_d2").asc(), F.col("_cluster").asc())
    probes = (
        queries.crossJoin(cent_df)
        .withColumn("_d2", d2)
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select(
            F.col(query_id_col),
            F.col(emb_col).alias("_q_emb"),
            VX.l2_norm(emb_col).alias("_q_norm"),
            "_cluster",
        )
    )
    scored = (
        assigned.withColumn("_c_norm", VX.l2_norm(emb_col))
        .join(F.broadcast(probes), "_cluster")
        .select(
            F.col(query_id_col),
            F.col(id_col),
            VX.guarded_div(
                VX.dot(F.col(emb_col), F.col("_q_emb")),
                F.col("_c_norm") * F.col("_q_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane-LSH
    bucket are scored. Recall is tunable via ``planes`` (fewer planes →
    bigger buckets → higher recall, more compute)."""
    cb = corpus.withColumn("_bucket", hyperplane_bucket(emb_col, dim, planes)).withColumn(
        "_c_norm", VX.l2_norm(emb_col)
    )
    qb = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(emb_col).alias("_q_emb"),
            VX.l2_norm(emb_col).alias("_q_norm"),
            hyperplane_bucket(emb_col, dim, planes).alias("_bucket"),
        )
    )
    scored = cb.join(qb, "_bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        VX.guarded_div(
            VX.dot(F.col(emb_col), F.col("_q_emb")),
            F.col("_c_norm") * F.col("_q_norm"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the vector-COMPRESSION scale tier. IVF prunes
# which vectors a probe scans; PQ shrinks what each vector costs to store
# and score (m uint8 codes instead of dim floats — 64x smaller at
# dim=64/m=4). Together they are the IVF-PQ layout every billion-vector
# ANN deployment runs. (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search".)
# ---------------------------------------------------------------------------


def pq_train_encode(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
):
    """Train per-subspace codebooks on a BOUNDED sample and encode every
    vector as its ``m`` nearest-centroid codes.

    Codebooks need ~1e5 training vectors, not the corpus (Jégou et al.
    train offline), so training is driver-side Lloyd's over a
    deterministic hash-sample capped at ``sample_cap`` rows — at 100 TB
    the corpus is never scanned for training beyond the one sample pass.
    Encoding is pure codegen'd column expressions (argmin over k literal
    centroids per subspace), ONE row-local pass, no shuffle, no ML-model
    UDF path. A previous pyspark.ml variant launched m×max_iter
    distributed KMeans jobs: 16 sequential fits dominated the query wall
    (v_pq_adc_topk 21.7 s at sf0.01; the sampled rewrite + materialized
    codes measure 4.6 s warm for the same query).

    Returns ``(codes_df, codebooks)``: ``codes_df`` is
    ``(id, code_0..code_{m-1})``; ``codebooks`` is the ``m × k × dim/m``
    nested list of centroid coordinates. Fully deterministic: the sample
    is sorted by id before fitting, the seeded RNG only picks the k
    initial centroids, and argmin ties break to the lowest code both in
    training and encoding.
    """
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    sample_cap = 65536
    # contentless vectors are excluded from training AND encoding by spec
    # (None in the driver-side sample breaks numpy; codes are undefined),
    # and so are NULL-id rows: the id is the sample's deterministic sort
    # key and the only address a result row can carry
    ids_emb = corpus.filter(
        VX.is_valid_vector(emb_col) & F.col(id_col).isNotNull()
    ).select(id_col, VX.to_double_array(emb_col).alias("_e"))
    n_total = ids_emb.count()
    samp = ids_emb
    if n_total > sample_cap:
        # deterministic hash thinning: ceil division so the EXPECTED kept
        # rows stay <= sample_cap (floor made keep_mod=1 for any n_total
        # under 2x the cap — a no-op "cap" that collected the full corpus)
        keep_mod = -(-n_total // sample_cap)
        samp = samp.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(keep_mod)) == 0)
    rows = sorted(samp.collect(), key=lambda r: r[0])
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    codebooks = []
    for j in range(m):
        Xj = X[:, j * d_sub : (j + 1) * d_sub]
        rng = np.random.default_rng(seed + j)
        cent = Xj[rng.choice(len(Xj), size=min(k, len(Xj)), replace=False)].copy()
        if len(cent) < k:  # degenerate tiny corpus: pad by repeating
            cent = np.vstack([cent] * ((k // len(cent)) + 1))[:k]
        for _ in range(max_iter):
            d2 = ((Xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # ties -> lowest code
            new = np.vstack(
                [
                    Xj[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                    for c in range(k)
                ]
            )
            if np.allclose(new, cent, atol=1e-12):
                cent = new
                break
            cent = new
        codebooks.append([[float(x) for x in c] for c in cent])
    # encode: per subspace, argmin over k literal-centroid distances —
    # array_position(first minimum) breaks ties to the lowest code,
    # matching the training argmin
    enc = corpus.filter(
        VX.is_valid_vector(emb_col) & F.col(id_col).isNotNull()
    ).select(id_col, emb_col)
    for j in range(m):
        dists = []
        for c in range(k):
            terms = " + ".join(
                f"(CAST(element_at(`{emb_col}`, {j * d_sub + i + 1}) AS DOUBLE)"
                f" - ({codebooks[j][c][i]!r})) * "
                f"(CAST(element_at(`{emb_col}`, {j * d_sub + i + 1}) AS DOUBLE)"
                f" - ({codebooks[j][c][i]!r}))"
                for i in range(d_sub)
            )
            dists.append(f"({terms})")
        arr = "array(" + ", ".join(dists) + ")"
        enc = enc.withColumn(
            f"code_{j}",
            F.expr(
                f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
            ),
        )
    # Materialize the codes: PQ codes are a PERSISTED index in any real
    # deployment (that is the point of the layout — m uint8s per row on
    # disk), so downstream consumers should plan against the skinny code
    # table, not against the m×k argmin expression trees (which
    # posexplode would otherwise re-inline per consumer; measured 7.3 s
    # → 3.3 s for the ADC stage at sf0.01).
    return enc.drop(emb_col).localCheckpoint(eager=True), codebooks


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate squared-L2 =
    sum over subspaces of ||q_sub − centroid(code_j)||², looked up from a
    per-query distance table.

    The LUT is tiny (n_queries · m · k rows) and broadcast; the corpus
    side ships only its ``m`` uint8 codes — never the original floats.
    Plan: unpivot codes → broadcast-join the LUT on (subspace, code) →
    one groupBy(id, query) sum → per-query top-k window. One shuffle over
    (m · corpus) skinny rows; at 100 TB this is the memory-bound layout
    PQ exists to enable.
    """
    m = len(codebooks)
    kcb = len(codebooks[0])
    d_sub = dim // m

    # per-query LUT rows (query_id, j, code, pdist) — driver-built from
    # the broadcast-sized query set x codebook metadata
    qrows = queries.select(query_id_col, emb_col).collect()
    lut = []
    for qr in qrows:
        qe = [float(x) for x in qr[emb_col]]
        for j in range(m):
            qs = qe[j * d_sub : (j + 1) * d_sub]
            for c in range(kcb):
                cc = codebooks[j][c]
                pd_ = sum((a - b) ** 2 for a, b in zip(qs, cc))
                lut.append((qr[query_id_col], j, c, pd_))
    spark = codes_df.sparkSession
    lut_df = F.broadcast(
        local_frame(spark, lut, f"{query_id_col} long, _j int, _code int, _pd double")
    )

    unpivoted = codes_df.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"code_{j}") for j in range(m)])).alias(
            "_j", "_code"
        ),
    )
    scored = (
        unpivoted.join(lut_df, ["_j", "_code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_pd").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", "rank")
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact squared-L2 top-k (the ground truth PQ approximates)."""
    q = F.broadcast(
        queries.select(query_id_col, F.col(emb_col).alias("_q_emb"))
    )
    scored = corpus.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        F.aggregate(
            F.zip_with(
                VX.to_double_array(emb_col),
                VX.to_double_array("_q_emb"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("l2_sq"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("l2_sq").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_sq", "rank")
    )


# ---------------------------------------------------------------------------
# Stored IVF index: the serving-shape scale path. The in-memory ivf_topk
# re-scans (and re-assigns) the corpus per call; at 100 TB the index is a
# TABLE — assignment happens once at build time, rows are laid out by
# cluster so per-file min/max stats make every probe a file-pruned read
# (only the probed clusters' files are even listed).
# ---------------------------------------------------------------------------


def ivf_store(
    corpus: DataFrame,
    table: str,
    n_clusters: int = 8,
    seed: int = 42,
    emb_col: str = "embedding",
) -> list:
    """Build the stored IVF index: fit + assign (``ivf_assign``), lay rows
    out by ``_cluster`` (range-partition + local sort → one file per
    cluster at these sizes, each with EXACT ``_cluster`` min/max stats),
    and commit to a transactional table in one atomic append. Returns the
    centroid list (n_clusters × dim, the tiny driver-side probe map — a
    deployment persists it beside the table)."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    assigned, centroids = ivf_assign(corpus, n_clusters, seed, emb_col)
    laid = assigned.repartitionByRange(n_clusters, "_cluster").sortWithinPartitions(
        "_cluster"
    )
    TX.append(laid, table)
    return centroids


def ivf_topk_stored(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list,
    k: int = 5,
    n_probe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over the STORED IVF index, reading only the
    probed clusters' files (txtable stats pruning — the I/O shape that
    matters at 100 TB: a 2-probe query against a 1000-cluster index
    lists 0.2% of the files).

    Probe selection runs driver-side over the by-contract-bounded query
    set and tiny centroid table (the ``pq_adc_topk`` allowed-collect
    class), with ``ivf_topk``'s exact tie rule (squared-L2 asc, cluster
    id asc). Queries with NULL/invalid embeddings are excluded — they
    cannot be quantized (the ``ivf_assign`` index-side spec, applied to
    the probe side). Scoring is the shared cosine + window top-k tail."""
    import numpy as np

    from pyspark.sql import types as ST

    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    # id/query-id field types come from the ACTUAL schemas (ADVICE r7 #3:
    # the former literal `long` broke string/int id corpora on the probe
    # createDataFrame, and made the empty-result schema diverge from the
    # non-empty path's)
    qid_type = queries.schema[query_id_col].dataType
    id_type = TX.read(spark, table).schema[id_col].dataType
    out_schema = ST.StructType(
        [
            ST.StructField(query_id_col, qid_type),
            ST.StructField(id_col, id_type),
            ST.StructField("cosine", ST.DoubleType()),
            ST.StructField("rank", ST.IntegerType()),
        ]
    )
    C = np.asarray(centroids, dtype=np.float64)
    probe_rows = []
    for r in queries.select(query_id_col, emb_col).collect():
        emb = r[emb_col]
        if emb is None or any(x is None for x in emb) or len(emb) != C.shape[1]:
            continue
        x = np.asarray([float(v) for v in emb], dtype=np.float64)
        d2 = ((C - x) ** 2).sum(axis=1)
        order = np.argsort(d2, kind="stable")[:n_probe]
        for c in order:
            probe_rows.append((r[query_id_col], int(c), [float(v) for v in emb]))
    if not probe_rows:
        return local_frame(spark, [], out_schema)
    clusters = sorted({c for _, c, _ in probe_rows})
    corpus = None
    for c in clusters:
        part = TX.read(spark, table, between=("_cluster", c, c))
        corpus = part if corpus is None else corpus.unionByName(part)
    probes = F.broadcast(
        local_frame(
            spark,
            probe_rows,
            ST.StructType(
                [
                    ST.StructField(query_id_col, qid_type),
                    ST.StructField("_cluster", ST.IntegerType()),
                    ST.StructField(
                        "_q_emb", ST.ArrayType(ST.DoubleType())
                    ),
                ]
            ),
        )
    )
    scored = (
        corpus.withColumn("_c_norm", VX.l2_norm(emb_col))
        .join(probes, "_cluster")
        .select(
            F.col(query_id_col),
            F.col(id_col),
            VX.guarded_div(
                VX.dot(F.col(emb_col), F.col("_q_emb")),
                F.col("_c_norm") * VX.l2_norm("_q_emb"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Spherical k-means (round 9, session 2) — Lloyd's iteration under COSINE
# geometry: centroids live on the unit sphere, assignment is max dot
# product, and the update step L2-normalizes the member mean. This is the
# clustering primitive SemDeDup (Abbas et al. 2023) builds semantic dedup
# on (cluster, then prune within-cluster by cosine), complementing
# ``pyspark.ml`` KMeans (``v_kmeans_clusters``, Euclidean, invariant-
# oracled): the unrolled deterministic iteration below is HASH-exact
# against the DuckDB oracle — init, both assignment passes, and the
# decimal-exact centroid update are all replayed cross-engine.
#
# Scale shape per iteration: assignment = one broadcast of K*D doubles +
# a map-side-combinable max_by aggregate (N rows shuffle once, keyed by
# id); update = K groups x D decimal-sum aggregate columns (partial
# aggregation, order-independent exact sums — the hyperplane-bias
# pattern, so partitioning can never move a centroid). No N x K window
# shuffle, no driver-side loop over rows; plan depth grows linearly with
# ``iters`` (pin small; hand many-iteration jobs to pyspark.ml).
# ---------------------------------------------------------------------------

SPHERICAL_K = 8
SPHERICAL_ITERS = 2


def _assign_to_centroids(
    u: DataFrame, cents: DataFrame, id_col: str
) -> DataFrame:
    """(id, u, cluster, sim): nearest centroid by dot product, ties to the
    smallest cluster id — as a SINGLE narrow projection (r10, guide §2.4
    "remove shuffles outright"). The K-row centroid table folds into one
    array-of-structs row (a one-row collect_list aggregate, broadcast —
    K·D doubles, metadata-sized) and the per-row argmax is ``array_max``
    over ``struct(sim, -cluster)``: the same lexicographic comparison the
    former ``groupBy(id).max(struct)`` computed, over the same left-fold
    dot doubles, so winner and sim are bit-identical (oracle-replayed).
    The former shape (crossJoin K rows → N·K-row groupBy → join back on
    id) shuffled N rows twice per iteration; this shuffles nothing.
    collect_list order does not matter: the -cluster tiebreak makes all
    K structs pairwise distinct, so the max is order-independent."""
    carr = cents.agg(F.collect_list(F.struct("cluster", "c")).alias("_cents"))
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                VX.dot("u", s["c"]).alias("s"),
                (-s["cluster"]).alias("nc"),
            ),
        )
    )
    # _b is referenced twice below, which keeps CollapseProject from
    # inlining the array_max into the final select (non-cheap, multi-use)
    # — one argmax evaluation per row.
    withb = u.crossJoin(F.broadcast(carr)).select(id_col, "u", best.alias("_b"))
    return withb.select(
        id_col,
        "u",
        (-F.col("_b.nc")).cast("bigint").alias("cluster"),
        F.col("_b.s").alias("sim"),
    )


def _update_centroids(assigned: DataFrame, dim: int) -> DataFrame:
    """Spherical update: per-cluster member mean via exact DECIMAL(27,10)
    per-coordinate sums (order-independent — partitioning can't move the
    centroid), divided in double, then L2-normalized with the fixed
    left-fold chain. Empty clusters drop (standard Lloyd's).

    Shape (r10): posexplode to (cluster, pos, value) and aggregate ONE
    decimal sum column keyed by (cluster, pos), then fold back to the
    centroid array in pos order. The former spelling built ``dim``
    separate sum/divide/alias expression columns — the same exact decimal
    additions, but a ~dim×-wider expression tree that Catalyst re-analyzed
    per iteration; measured 1.9→0.6 s per update at dim=64/sf0.1 with
    collect-identical output (decimal addition is exact in any grouping,
    so the per-(cluster,pos) sums ARE the per-column sums)."""
    ex = assigned.select("cluster", F.posexplode("u").alias("_p", "_x"))
    agg = ex.groupBy("cluster", "_p").agg(
        F.sum(F.col("_x").cast("decimal(27,10)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    m = agg.select(
        "cluster", "_p", (F.col("_s").cast("double") / F.col("_n")).alias("_mv")
    )
    cent = m.groupBy("cluster").agg(
        F.array_sort(F.collect_list(F.struct("_p", "_mv"))).alias("_pm")
    )
    withm = cent.select(
        "cluster", F.transform("_pm", lambda s: s["_mv"]).alias("_m")
    )
    nrm = F.sqrt(VX.dot("_m", "_m"))
    return withm.select(
        "cluster",
        F.when(
            nrm > 0, VX.div_elements(F.col("_m"), nrm)
        ).otherwise(F.col("_m")).alias("c"),
    )


def spherical_kmeans_assign(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = SPHERICAL_K,
    iters: int = SPHERICAL_ITERS,
    resources: list | None = None,
) -> DataFrame:
    """Deterministic spherical k-means: (id, cluster, sim) after
    ``iters`` Lloyd passes under cosine geometry.

    Init = the first ``k`` valid vectors in id order, L2-normalized
    (deterministic, oracle-replayable — the seed-free analogue of
    kmeans++ for a verifiable catalog row). Valid = non-null, exact
    ``dim``, positive norm; everything runs on unit vectors so dot IS
    cosine. Every float op is order-pinned (left-fold dots, decimal
    centroid sums), so engines replaying the same recipe agree bitwise.
    """
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        _materialize,
    )

    e = df.filter(
        VX.is_valid_vector(emb_col) & (F.size(emb_col) == dim)
    ).withColumn("_nrm", VX.l2_norm(emb_col))
    # Materialized once: every pass reads u twice (assignment + update),
    # so 2*iters lazy re-reads of the source otherwise. `resources`
    # (caller-released persist) for long-lived pipelines, localCheckpoint
    # default for the batch contract — the concat_chunk_pack convention.
    u = _materialize(
        e.filter(F.col("_nrm") > 0).select(
            id_col,
            # div_elements, not a transform lambda capturing _nrm: the
            # capture re-evaluates the inlined 64-step norm aggregate per
            # element (r10, measured 1.05 s → 0.06 s for this projection)
            VX.div_elements(
                VX.to_double_array(emb_col), F.col("_nrm")
            ).alias("u"),
        ),
        resources,
    )
    w = Window.orderBy(id_col)
    cents = (
        u.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("bigint").alias("cluster"),
            F.col("u").alias("c"),
        )
    )
    assigned = None
    for t in range(iters):
        # Materialize the K-row centroid table each pass (K*D doubles —
        # metadata-sized): every lazy reference to ``cents`` would
        # otherwise re-execute the whole prior iteration's subtree, and
        # the plan re-expands multiplicatively with ``iters``. This is
        # the iterative-frontier discipline from connected_components
        # (truncate lineage at each round), at trivial size.
        cents = cents.localCheckpoint(eager=True)
        assigned = _assign_to_centroids(u, cents, id_col)
        if t + 1 < iters:
            cents = _update_centroids(assigned, dim)
        # Final output keeps the LAST assignment (classic Lloyd's
        # reports assignment, then update).
    return assigned.select(id_col, "cluster", "sim")
