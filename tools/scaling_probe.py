"""Dedup-family scaling-curve probe — pins the exponent behind the
100-TB extrapolations (round-5, VERDICT r4 #9).

The small-SF bench lanes measure throughput at ONE size; every "this
shape survives 1000x" claim implicitly asserts the wall grows ~linearly
in rows. This probe measures it: each dedup lane runs at 1M / 2M / 4M
rows (documents replicated with remapped unique ids — same text
distribution, so candidate-pair structure per row is held constant) and
fits the log-log slope alpha in ``wall ∝ rows^alpha``.

Reading the slope: alpha ≈ 1.0 → linear (shuffle-bound, the shape the
architecture promises); alpha >> 1 → super-linear (a pairwise or skewed
stage is growing faster than its input — the 100-TB red flag). Fixed
per-job overhead (~0.2 s scheduling floor) biases alpha DOWN at small
walls, so the probe also prints per-size rec/s, which should be flat or
rising for a healthy lane.

Each replica's text is PERTURBED with a per-replica suffix token:
verbatim replication would be adversarial for the near-dup lanes (800
identical copies of a doc form one LSH bucket clique → candidate pairs
grow QUADRATICALLY in the replication factor — a property of the probe
input, not of real corpora, where duplicate-cluster size does not grow
with corpus size). With the suffix, per-row shingle/signature work is
unchanged, cross-replica collisions drop to the background rate, and
the exact-dedup key space scales with rows (as a real crawl's does).

Usage: python tools/scaling_probe.py [--scales 200,400,800]
Prints one JSON line per lane plus a summary line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from webscale_multimodal_datapipeline_spark.operators import dedup as OD  # noqa: E402
from webscale_multimodal_datapipeline_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_dedup,
    text_exact_dedup,
)
from webscale_multimodal_datapipeline_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


# Optional lane subset (round 9 session 2): SPARK_GRAFT_PROBE_LANES=a,b
# runs only the groups containing those lanes — new-operator lanes can be
# probed without paying the full ~15-min sweep. Empty = all lanes.
_LANE_FILTER = {
    s.strip()
    for s in os.environ.get("SPARK_GRAFT_PROBE_LANES", "").split(",")
    if s.strip()
}


def lane_on(*names: str) -> bool:
    return not _LANE_FILTER or any(n in _LANE_FILTER for n in names)


def replicated(spark, sf_dir: str, factor: int):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ncpu = DEFAULT_CPUS
    big = (
        docs.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
        .withColumn("doc_id", F.col("doc_id") * 10_000 + F.col("rep"))
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" zrep"), F.col("rep"))
        )
        .drop("rep")
        .repartition(ncpu * 2)
    )
    # SPARK_GRAFT_PROBE_DISK_REPLICA=1: persist the replica DISK_ONLY so
    # every size point reads its input from the same substrate (round 10,
    # ARCHITECTURE §46 watch note — at 4M rows the default memory replica
    # partially evicts, so large points read a mixed memory/recompute
    # substrate and the lane's alpha measures cache residency, not the
    # operator).
    if os.environ.get("SPARK_GRAFT_PROBE_DISK_REPLICA") == "1":
        from pyspark import StorageLevel

        big = big.persist(StorageLevel.DISK_ONLY)
    else:
        big = big.persist()
    n = big.count()
    return big, n


def timed(df, runs: int = 3) -> float:
    df.count()  # warm
    ts = []
    for _ in range(runs):
        t0 = time.time()
        df.count()
        ts.append(time.time() - t0)
    ts.sort()
    return ts[len(ts) // 2]


def timed_build(mk, runs: int = 3) -> float:
    """Median wall of BUILD + EXECUTE, rebuilding the plan each run via
    the ``mk`` thunk. Required for the ITERATIVE lanes (components-star,
    BFS): their loops run eager/lazy localCheckpoint actions at plan-BUILD
    time, so timing a prebuilt DataFrame only re-reads the final
    checkpoint (measured 0.1 s where the true end-to-end cost is ~50x
    that) — the classic iterative-plan measurement trap."""
    mk().count()  # warm (codegen + python workers)
    ts = []
    for _ in range(runs):
        t0 = time.time()
        mk().count()
        ts.append(time.time() - t0)
    ts.sort()
    return ts[len(ts) // 2]


def main() -> None:
    # Per-lane replication factors: cheap map/shuffle lanes run at
    # 1M/2M/4M rows; the full MinHash+LSH+verify pipeline is ~200x
    # heavier per row (128-perm signatures over ~50 shingles), so its
    # curve is taken at 40K/80K/160K — the EXPONENT needs consistent
    # ratios, not absolute size, and 4 timed runs of a 1M-row minhash
    # would cost ~an hour for no extra information.
    lane_scales = {
        "exact_dedup": [200, 400, 800],
        "simhash_map": [200, 400, 800],
        "winnow_fp": [200, 400, 800],
        "minhash_lsh_dedup": [8, 16, 32],
    }
    # embedding-cosine near-dup runs over the EMBEDDINGS table (its own
    # replicator below). Round 7: the DEFAULT lane (corpus-scaled plane
    # schedule + arrow pair verify, over the full-rank md5 plane family —
    # the round-6 congruential family was rank-7, so its "schedule" never
    # split a bucket; ARCHITECTURE §33) runs to 64K rows, the size where
    # the fixed-plane alpha=3 red flag cost 453 s. The FIXED-8-plane
    # red-flag lane is retained at bounded sizes for the series.
    emb_scales = [8, 16, 32]  # × 2,000 rows (sf0.1) = 16K / 32K / 64K
    emb_fixed_scales = [8, 16]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scaling_probe")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def lane_df(name, big):
        if name == "exact_dedup":
            return text_exact_dedup().apply(big)
        if name == "simhash_map":
            return (
                big.withColumn("_th", OD.token_hashes("text", algo="xxhash64"))
                .select(OD.simhash_fast_udf("_th").alias("sh"))
                .filter(F.col("sh") != 0)
            )
        if name == "winnow_fp":
            return OD.winnow_fp_count_column(big, "text", "nf").filter(
                F.col("nf") > 0
            )
        return minhash_lsh_dedup(big)

    from bench import calibration_ms, contention_flag, should_refuse_contended  # the bench sentinel

    results: dict[str, list[tuple[int, float]]] = {}
    cal = [calibration_ms()]
    all_factors = sorted({f for fs in lane_scales.values() for f in fs})
    for factor in all_factors:
        big = None
        for name, fs in lane_scales.items():
            if factor not in fs or not lane_on(name):
                continue
            if big is None:
                big, n = replicated(spark, sf_dir, factor)
            wall = timed(lane_df(name, big))
            results.setdefault(name, []).append((n, wall))
            print(
                f"# {name} @ {n} rows: {wall:.2f}s ({n / wall / 1000:.0f}K rec/s)",
                file=sys.stderr,
            )
        if big is not None:
            big.unpersist()
        # Drain session state between factor groups (the bench.py rule):
        # the round-7 run measured the 4M simhash point at 13.1 s in-probe
        # vs 5.8 s standalone — GC/allocator pressure from earlier lanes'
        # checkpoints, not operator cost (ARCHITECTURE §34).
        spark.catalog.clearCache()
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — JVM GC nudge is best-effort
            pass
        cal.append(calibration_ms())

    # embedding-cosine lane: replicate embeddings with a per-replica
    # PERTURBED coordinate (verbatim copies would form bucket cliques —
    # the same quadratic probe artifact the text replicator avoids with
    # suffix tokens): replica vectors land in different buckets at the
    # background rate, per-row bucket/verify work unchanged.
    def emb_replicated(factor: int, cone: float = 0.0):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        big = (
            emb.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
            .withColumn("vec_id", F.col("vec_id") * 10_000 + F.col("rep"))
            .withColumn(
                "embedding",
                # Per-(row, replica, coordinate) HASH-random offsets on the
                # first 16 coordinates — xxhash64-keyed, truly decorrelated.
                # Round 7 root-caused the previous shader-sin noise as the
                # §32 structured-noise trap in a FOURTH disguise: its
                # coordinate stride 37.719 ≈ 6·2π, so the phase moved only
                # ~0.02 rad per coordinate and every replica got a nearly
                # CONSTANT ±4 offset along (1,1,...,1) — replicas collapsed
                # into two mega-clusters (one bucket held 36% of all rows;
                # the raw fixture's max bucket is 25 of 2,000), and the lane
                # measured the replicator's geometry (alpha 1.9+), not the
                # operator's. Hash-random noise preserves the fixture's
                # balanced bucket profile at every scale.
                F.transform(
                    "embedding",
                    lambda x, i: F.when(
                        (i < 16) & (F.col("rep") > 0),
                        x
                        + (
                            (
                                F.pmod(
                                    F.xxhash64(F.col("vec_id"), F.col("rep"), i),
                                    F.lit(2001),
                                )
                                - 1000
                            )
                            / F.lit(250.0)
                        ).cast("float"),
                    ).otherwise(x),
                ),
            )
            .drop("rep")
        )
        if cone:
            # CLIP-cone concentration: one large constant offset on the
            # first 32 coordinates of EVERY row — all vectors share a
            # dominant direction, so raw sign-of-projection buckets
            # collapse (every plane mostly agrees with sign(c·μ)). This
            # is the §33 residual caveat made measurable: the skew is in
            # the DATA's geometry, deliberately, not a replicator bug.
            big = big.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: F.when(
                        i < 32, x + F.lit(cone).cast("float")
                    ).otherwise(x),
                ),
            )
        big = big.repartition(
            DEFAULT_CPUS
        ).localCheckpoint(eager=True)
        return big, big.count()

    for factor in emb_scales:
        if not lane_on(
            "embedding_cosine_dedup",
            "embedding_cosine_dedup_banded4",
            "embedding_cosine_dedup_fixed8",
        ):
            break
        big, n = emb_replicated(factor)
        # DEFAULT lane (round 7): planes=None → scaled_planes(n) over the
        # full-rank family, arrow pair verify. This is what a caller gets.
        wall = timed(OD.embedding_cosine_dedup(big))
        results.setdefault("embedding_cosine_dedup", []).append((n, wall))
        print(
            f"# embedding_cosine_dedup @ {n} rows (planes="
            f"{OD.scaled_planes(n)}): {wall:.2f}s ({n / wall / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        # banded OR-construction (recall-restoring variant): 4 bands of
        # scheduled planes — pins the recall remedy's own exponent.
        wall3 = timed(OD.embedding_cosine_dedup(big, bands=4))
        results.setdefault("embedding_cosine_dedup_banded4", []).append((n, wall3))
        print(
            f"# embedding_cosine_dedup_banded4 @ {n} rows: {wall3:.2f}s"
            f" ({n / wall3 / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        # red-flag series: the old FIXED-8-plane default, bounded sizes
        if factor in emb_fixed_scales:
            wall2 = timed(OD.embedding_cosine_dedup(big, planes=8))
            results.setdefault("embedding_cosine_dedup_fixed8", []).append(
                (n, wall2)
            )
            print(
                f"# embedding_cosine_dedup_fixed8 @ {n} rows: {wall2:.2f}s"
                f" ({n / wall2 / 1000:.0f}K rec/s)",
                file=sys.stderr,
            )
        big.unpersist()
        cal.append(calibration_ms())

    # ------------------------------------------------------------------
    # Cone-skew lanes (round 7 session 2): the §33 residual caveat,
    # measured. A CLIP-cone-concentrated corpus collapses RAW sign
    # buckets (bucket count stays ~constant as n grows → within-bucket
    # pairs grow quadratically — the same α≈2+ failure the fixed-plane
    # default had, but caused by the DATA, not the plane count).
    # ``center=True`` (mean-centered projections over exact-decimal bias
    # stats, operators/dedup.py::hyperplane_bias_stats) must restore the
    # balanced profile and the ~linear exponent. Uncentered cone runs
    # BOUNDED sizes only (it is the red-flag series).
    # ------------------------------------------------------------------
    for factor in emb_scales:
        if not lane_on("embedding_cone_auto", "embedding_cone_raw"):
            break
        big, n = emb_replicated(factor, cone=8.0)
        # DEFAULT-FLAGS cone lane (round 8, VERDICT r7 #1's done-condition):
        # center="auto" must detect the collapsed profile and land on the
        # centered plan — this lane IS what a caller gets on CLIP-shaped
        # data out of the box, and its exponent must stay ≤ ~1.
        wall = timed(OD.embedding_cosine_dedup(big))
        results.setdefault("embedding_cone_auto", []).append((n, wall))
        print(
            f"# embedding_cone_auto @ {n} rows (gate="
            f"{OD.cone_gate(big, 'embedding', 64, OD.scaled_planes(n))}):"
            f" {wall:.2f}s ({n / wall / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        if factor == emb_scales[0]:
            # red-flag series, SMALLEST size only, now an EXPLICIT
            # center=False pin (the default escaped it in round 8): the
            # one-shot 32K reading was ~190-212 s (α≈3.6 vs centered's
            # ~0.3 — §35); re-measuring it every round would cost the
            # probe ~10 min for a number the architecture note pins.
            wall2 = timed(OD.embedding_cosine_dedup(big, center=False))
            results.setdefault("embedding_cone_raw", []).append((n, wall2))
            print(
                f"# embedding_cone_raw @ {n} rows: {wall2:.2f}s"
                f" ({n / wall2 / 1000:.0f}K rec/s)",
                file=sys.stderr,
            )
        big.unpersist()
        cal.append(calibration_ms())

    # ------------------------------------------------------------------
    # ANN lanes (round 7 session 2): similarity search had no measured
    # exponent. Query set held CONSTANT (16 fixture vectors, the
    # by-contract broadcast side) while the corpus scales — the serving
    # shape. Brute-force top-k must be α≈1 (one scan, windowed top-k);
    # IVF includes its own KMeans train (bounded sample) per build, so
    # it is thunk-timed like the iterative lanes.
    # ------------------------------------------------------------------
    from webscale_multimodal_datapipeline_spark.operators import (  # noqa: E402
        similarity as OS,
    )

    if lane_on("ann_brute_topk", "ann_ivf_topk"):
        q16 = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") < 16)
            .select(F.col("vec_id").alias("query_id"), "embedding")
            .localCheckpoint(eager=True)
        )
        q16.count()
    for factor in emb_scales:
        if not lane_on("ann_brute_topk", "ann_ivf_topk"):
            break
        big, n = emb_replicated(factor)
        wall = timed(OS.cosine_topk(big, q16, k=10))
        results.setdefault("ann_brute_topk", []).append((n, wall))
        print(
            f"# ann_brute_topk @ {n} rows: {wall:.2f}s"
            f" ({n / wall / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        wall2 = timed_build(
            lambda: OS.ivf_topk(big, q16, k=10, n_clusters=16, n_probe=2)
        )
        results.setdefault("ann_ivf_topk", []).append((n, wall2))
        print(
            f"# ann_ivf_topk @ {n} rows: {wall2:.2f}s"
            f" ({n / wall2 / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        big.unpersist()
        cal.append(calibration_ms())

    # ------------------------------------------------------------------
    # Graph lanes (round 7, VERDICT r6 #4): the two top iterative walls —
    # components-star cluster resolution and BFS hop histogram — were the
    # only expensive family with no measured exponent, and iterative join
    # algorithms are exactly where hidden quadratics live. Replication
    # shape: disjoint relabeled copies — component/frontier SIZES stay
    # constant while their COUNT scales with rows, the continuous-crawl
    # growth shape (a real corpus's duplicate-cluster and neighborhood
    # sizes do not grow with corpus size).
    # ------------------------------------------------------------------
    from webscale_multimodal_datapipeline_spark.catalog import load_table
    from webscale_multimodal_datapipeline_spark.plans.graph_queries import (
        bipartite_bfs_histogram,
    )

    for factor in [1, 2, 4]:
        if not lane_on("components_star"):
            break
        big, n = replicated(spark, sf_dir, factor)
        wall = timed_build(
            lambda: OD.connected_components_star(
                OD.simhash_near_pairs(big, max_hamming=12),
                "id_l",
                "id_r",
                edges_distinct=True,
            )
        )
        results.setdefault("components_star", []).append((n, wall))
        print(
            f"# components_star @ {n} docs: {wall:.2f}s"
            f" ({n / wall / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        big.unpersist()
        cal.append(calibration_ms())

    for factor in [1, 2, 4]:
        if not lane_on("bfs_hops"):
            break
        # Disjoint relabeled copies on the r10 directed long-keyed pair
        # table: copy r offsets both node keys by r·10^9 (divisible by 10,
        # so each copy's seed set `s % 10 == 1` replicates the original's).
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        p0 = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )
        off = 1_000_000_000
        pairs = (
            p0.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
            .select(
                (F.col("c") + F.col("rep") * off).alias("c"),
                (F.col("s") + F.col("rep") * off).alias("s"),
            )
            .repartition(DEFAULT_CPUS)
            .localCheckpoint(eager=True)
        )
        n = pairs.count()
        seeds = pairs.select("s").distinct().filter(F.col("s") % 10 == 1)
        # pair table stays pre-checkpointed (the query does the same);
        # the BFS loop itself rebuilds per run (its per-round lazy
        # checkpoints otherwise cache the frontiers after run 1)
        wall = timed_build(lambda: bipartite_bfs_histogram(pairs, seeds))
        results.setdefault("bfs_hops", []).append((n, wall))
        print(
            f"# bfs_hops @ {n} edges: {wall:.2f}s"
            f" ({n / wall / 1000:.0f}K edges/s)",
            file=sys.stderr,
        )
        pairs.unpersist()
        cal.append(calibration_ms())

    # ------------------------------------------------------------------
    # Round-9 session-2 lanes: substring-span dedup (positional-gram
    # explode + global gram count + interval merge), interleaved
    # multimodal packing (per-shard sequential fold), and spherical
    # k-means (iterative — thunk-timed like components/BFS: its per-pass
    # centroid checkpoints run at plan-BUILD time). Replication shapes
    # reuse the house replicators: suffix-perturbed documents (span
    # work per row constant; cross-replica gram collisions at the REAL
    # rate — replicated docs share all but their last k-1 grams, so the
    # dup-gram table is dense, the worst realistic case), hash-perturbed
    # embeddings for the k-means lane.
    # ------------------------------------------------------------------
    if lane_on("dup_span_detect", "interleave_pack"):
        from webscale_multimodal_datapipeline_spark.operators import (  # noqa: E402
            packing as OPK,
        )
        from webscale_multimodal_datapipeline_spark.plans.multimodal_queries import (  # noqa: E402
            _interleave_items,
        )

        for factor in [100, 200, 400]:
            big, n = replicated(spark, sf_dir, factor)
            if lane_on("dup_span_detect"):
                wall = timed(OD.dup_span_spans(big))
                results.setdefault("dup_span_detect", []).append((n, wall))
                print(
                    f"# dup_span_detect @ {n} rows: {wall:.2f}s"
                    f" ({n / wall / 1000:.0f}K rec/s)",
                    file=sys.stderr,
                )
            if lane_on("interleave_pack"):
                wall = timed(
                    OPK.interleave_pack(
                        _interleave_items(big),
                        n_shards=OPK.scaled_pack_shards(n),
                    )
                )
                results.setdefault("interleave_pack", []).append((n, wall))
                print(
                    f"# interleave_pack @ {n} rows: {wall:.2f}s"
                    f" ({n / wall / 1000:.0f}K rec/s)",
                    file=sys.stderr,
                )
            big.unpersist()
            cal.append(calibration_ms())

    for factor in emb_scales:
        if not lane_on("spherical_kmeans"):
            break
        big, n = emb_replicated(factor)
        wall = timed_build(lambda: OS.spherical_kmeans_assign(big))
        results.setdefault("spherical_kmeans", []).append((n, wall))
        print(
            f"# spherical_kmeans @ {n} rows: {wall:.2f}s"
            f" ({n / wall / 1000:.0f}K rec/s)",
            file=sys.stderr,
        )
        big.unpersist()
        cal.append(calibration_ms())

    summary = {}
    for name, pts in results.items():
        # log-log least-squares slope; single-point lanes (bounded
        # red-flag series like cone_raw) carry no fit — alpha None
        if len(pts) >= 2:
            xs = [math.log(n) for n, _ in pts]
            ys = [math.log(w) for _, w in pts]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            alpha = round(
                sum((x - mx) * (y - my) for x, y in zip(xs, ys))
                / sum((x - mx) ** 2 for x in xs),
                3,
            )
        else:
            alpha = None
        summary[name] = {
            "alpha": alpha,
            "points": [
                {"rows": n, "wall_s": round(w, 2), "rec_k": round(n / w / 1000)}
                for n, w in pts
            ],
        }
        print(json.dumps({"lane": name, **summary[name]}))
    worst = max(
        (kv for kv in summary.items() if kv[1]["alpha"] is not None),
        key=lambda kv: kv[1]["alpha"],
        default=("none", {"alpha": None}),
    )
    dev, contended = contention_flag(cal)
    print(
        json.dumps(
            {
                "metric": "dedup_scaling_exponents",
                "alphas": {k: v["alpha"] for k, v in summary.items()},
                "worst_lane": worst[0],
                "worst_alpha": worst[1]["alpha"],
                "cal_ms": [int(round(c)) for c in cal],
                "cal_dev": dev,
                "contended": int(contended),
            },
            separators=(",", ":"),
        )
    )
    # Round-8 close ritual (VERDICT r7 #6): a round-close probe must be
    # sentinel-clean — a contended session measures the machine, not the
    # operators (the §34 rule). Exit nonzero so a contended run can't be
    # recorded as a band by accident; set SPARK_GRAFT_PROBE_ALLOW_CONTENDED=1
    # to keep the (flagged) numbers anyway.
    if should_refuse_contended(cal):  # one ritual, one spelling (bench)
        print(
            "# CONTENDED probe run (cal_dev "
            f"{dev}): numbers are session-load artifacts — rerun on an idle "
            "session or set SPARK_GRAFT_PROBE_ALLOW_CONTENDED=1",
            file=sys.stderr,
        )
        sys.exit(3)


if __name__ == "__main__":
    main()
