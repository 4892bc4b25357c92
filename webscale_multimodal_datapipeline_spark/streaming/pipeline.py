"""Streaming pipelines over the ``events`` table (and any parquet dir).

Mapping from the reference's execution knobs (SURVEY §2.9 / §4):
- backpressure ``max_in_flight`` (executor.py:462-469) →
  ``maxFilesPerTrigger`` trigger sizing;
- checkpoint/resume per loader shard (loader_worker.py:236-252) →
  ``checkpointLocation``;
- dedup backend actor service (backend.py) →
  ``dropDuplicatesWithinWatermark`` state store;
- no event-time in the reference → here: watermarked tumbling/sliding/
  session windows as the extension surface.

Batch operators (Refiner/Filter chains) apply unchanged to streaming
DataFrames — the compiler's plan is execution-mode agnostic, which is the
point of declaring semantics rather than scheduling actors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscale_multimodal_datapipeline_spark.session import local_frame

# Matches the fixture's current physical layout: ts is parquet
# TIMESTAMP(MICROS) isAdjustedToUTC=false → TIMESTAMP_NTZ. (Earlier fixture
# generations wrote TIMESTAMP(NANOS), declared LongType + nanosAsLong; use
# ``events_schema`` to stay generation-agnostic.)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_schema(spark: SparkSession, path: str) -> T.StructType:
    """Physical schema of an events parquet dir/file via a batch footer
    read — streaming sources require an explicit schema, and declaring one
    that disagrees with the footer (e.g. long vs timestamp ts) fails at
    scan time."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet with backpressure."""
    from webscale_multimodal_datapipeline_spark.catalog import normalize_events_ts

    schema = events_schema(spark, f"{sf_dir}/events.parquet")
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late data beyond
    the watermark is dropped; append-mode emits closed windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful streaming dedup — keeps the first event per key within the
    watermark horizon. The stateful analog of the reference's distributed
    seen-set (backend.py:13-74): Spark's state store IS the bucketed
    seen-set, sharded by the same hash-partitioning."""
    keys = keys or ["user_id", "event_type"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time session windows per user (native session_window — the
    streaming form of the batch lag/cumsum sessionization)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a bounded file-source stream to completion synchronously and
    register results as table ``name`` (local smoke-test harness)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def foreach_batch_dual_write(
    df: DataFrame,
    passed_path: str,
    rejected_path: str,
    predicate,
    checkpoint: str,
) -> None:
    """foreachBatch dual-write: per micro-batch, split on a predicate and
    write both sides (the streaming form of the rejected-rows sink,
    executor.py:100-124). Exactly-once via checkpointLocation."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.filter(predicate).write.mode("append").parquet(passed_path)
        batch_df.filter(~predicate).write.mode("append").parquet(rejected_path)

    q = (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_parquet_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an arbitrary events-shaped parquet
    directory (schema from a batch footer read), with per-trigger file
    backpressure — the multi-file form of ``read_events_stream`` used to
    exercise cross-trigger window updates."""
    from webscale_multimodal_datapipeline_spark.catalog import normalize_events_ts

    schema = events_schema(spark, path)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return normalize_events_ts(raw)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked streaming hourly count rollup per event type — stage 1
    of the streaming spike detector (``spike_flags_over_hourly`` is stage
    2). Emitted in UPDATE mode: a window row re-emits whenever its count
    grows, and the txtable MERGE keyed on (type, hour) keeps the latest —
    so the accumulated rollup converges to the exact batch rollup without
    waiting for watermark closure. ``_k`` is the composite merge key."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat_ws(
                "\x1f", F.col("event_type"), F.col("w.start").cast("string")
            ).alias("_k"),
            "event_type",
            F.col("w.start").alias("_h"),
            "cnt",
        )
    )


def stream_rollup_to_txtable(rollup: DataFrame, table: str, checkpoint: str) -> None:
    """Drive an UPDATE-mode rollup stream into a transactional table via
    per-micro-batch MERGE (``sources/txtable.py``): each trigger's updated
    window rows upsert by ``_k``, so a reader always sees a consistent
    rollup snapshot (never a torn mix of old and re-emitted rows) and the
    final snapshot equals the batch rollup. This is the streaming→CDC
    composition the reference's Iceberg writer implies but never commits
    (``writers/iceberg_writer.py:28-207``)."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # update-mode batches CAN repeat a key within one trigger's output
        # in rare replan cases — collapse to the latest cnt per key first
        latest = batch_df.groupBy("_k", "event_type", "_h").agg(
            F.max("cnt").alias("cnt")
        )
        # app_epoch makes a re-delivered micro-batch (foreachBatch is
        # at-least-once on restart) a committed no-op — exactly-once
        # table contents without relying on the sink being idempotent
        epoch = f"rollup-epoch-{epoch_id}"
        if TX.latest_version(table) < 0:
            TX.append(latest, table, app_epoch=epoch)
        else:
            TX.merge(spark, latest, table, "_k", app_epoch=epoch)

    q = (
        rollup.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def spike_flags_from_rollup(spark: SparkSession, table: str) -> DataFrame:
    """Stage-2 scoring over the accumulated rollup snapshot — the SAME
    exact-integer z-test as the batch ``e_spike_zscore``, so streaming
    and batch flags are bit-identical on the same input."""
    from webscale_multimodal_datapipeline_spark.plans.events_queries import (
        spike_flags_over_hourly,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    return spike_flags_over_hourly(
        TX.read(spark, table).select("event_type", "_h", "cnt")
    )


def run_stream_collect_metrics(
    df: DataFrame, name: str, output_mode: str = "append"
) -> dict[str, int]:
    """Like ``run_stream_to_memory`` but also harvests per-operator
    observed counters (``m.<stage>.<operator>`` observes attached by
    ``Pipeline.stream``) summed across all micro-batches — the streaming
    form of the reference's cross-worker metric aggregation
    (``framework/executor.py:760-846``).

    ``recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default 100),
    which would silently undercount long streams — raise it before the
    query starts so every micro-batch's counters are retained. (A
    StreamingQueryListener avoids the buffer entirely but delivers events
    asynchronously, which makes the sum racy in a bounded harness.)"""
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100"))
    if cap < 100_000:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        counts: dict[str, int] = {}
        for p in q.recentProgress:
            om = p.get("observedMetrics") or {}
            for metric_name, row in om.items():
                if not metric_name.startswith("m."):
                    continue
                n = row["n"] if isinstance(row, dict) else row.n
                counts[metric_name] = counts.get(metric_name, 0) + int(n)
        return counts
    finally:
        q.stop()


def enrich_with_dimension(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static dimension enrichment: broadcast-join the (small,
    batch-side) dimension onto the stream. Structured Streaming plans the
    static side once per micro-batch; the broadcast hint keeps it off the
    shuffle path entirely — no state store is involved, so this scales
    with the dimension's size in executor memory, not with stream history.

    Covers the reference's per-record metadata-lookup enrichment shape
    (Refiners reading side tables) in streaming mode.
    """
    return events.join(F.broadcast(dim), key, "left")


def stream_stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "2 hours",
    max_gap: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding ``max_gap`` — the event-attribution shape as
    a true two-sided streaming join (state on BOTH sides, bounded by the
    watermarks + the time-range predicate; without the range condition
    Spark would have to keep unbounded state and rejects the plan in
    append mode).

    Batch parity: the same expression evaluated on static frames gives
    the exact reference result (see tests).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
    )


def user_arm_counts(events: DataFrame) -> DataFrame:
    """Stage 1 of the STREAMING sample-ratio-mismatch guardrail
    (``e_srm_check`` lifted): stateful first-seen dedup of user ids,
    then an UPDATE-mode count per experiment arm (the repo's seeded
    md5 50/50 split). Each trigger re-emits only the arm rows whose
    distinct-user count grew, so the txtable MERGE keyed on ``_k``
    converges to the exact all-time batch counts. The dedup state is
    key-only (one bigint-hash row per distinct user); a deployment
    that can tolerate re-counting a user after N days would bound it
    with ``dropDuplicatesWithinWatermark`` — the all-time form is kept
    here because the batch query's semantics are all-time distinct."""
    from webscale_multimodal_datapipeline_spark.functions.text import md5_long

    return (
        events.filter(F.col("user_id").isNotNull())  # the batch SRM spec
        .select(F.col("user_id").cast("string").alias("user_id"))
        .dropDuplicates(["user_id"])
        .select(F.pmod(md5_long(F.col("user_id")), F.lit(2)).alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("arm").cast("string").alias("_k"), "arm", "cnt")
    )


def stream_arm_counts_to_txtable(counts: DataFrame, table: str, checkpoint: str) -> None:
    """Drive the UPDATE-mode arm-count stream into a transactional table
    via per-micro-batch MERGE — the ``stream_rollup_to_txtable`` pattern
    (idempotent app_epoch commits, latest-wins within a trigger) applied
    to a 2-row experiment-health table a dashboard can poll with
    snapshot-isolation reads while the experiment runs."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = batch_df.groupBy("_k", "arm").agg(F.max("cnt").alias("cnt"))
        epoch = f"srm-epoch-{epoch_id}"
        if TX.latest_version(table) < 0:
            TX.append(latest, table, app_epoch=epoch)
        else:
            TX.merge(spark, latest, table, "_k", app_epoch=epoch)

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def srm_from_arm_counts(spark: SparkSession, table: str) -> DataFrame:
    """Stage 2 of the streaming SRM guardrail: the SAME exact-integer
    2-cell chi-square as the batch ``e_srm_check`` (``χ² = (n0−n1)² /
    (n0+n1)``, floats only in the final division), read from the
    accumulated transactional snapshot — so streaming-vs-batch parity
    is exact, no tolerance."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    counts = TX.read(spark, table)
    agg = counts.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("cnt")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("cnt")).otherwise(0)).alias("n1"),
    )
    return agg.select(
        F.col("n0").cast("bigint").alias("n_arm0"),
        F.col("n1").cast("bigint").alias("n_arm1"),
        F.round(
            ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast("double")
            / (F.col("n0") + F.col("n1")).cast("double"),
            6,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Streaming incremental dedup through the transactional table (round-6,
# VERDICT r5 #5): the continuous-crawl CDC loop composed from its three
# proven pieces — the snapshot anti-join (operators/dedup.py::
# IncrementalDedupOperator), the micro-batch harness (foreachBatch), and
# the idempotent txtable commit (sources/txtable.py::append app_epoch).
# ---------------------------------------------------------------------------


def read_parquet_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over any parquet directory (schema from a batch
    footer read) — the replay harness for continuous-crawl shapes."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _maybe_compact_index(
    spark,
    table: str,
    epoch_id: int,
    compact_every: int | None,
    cluster_by: list[str] | None = None,
    target_files: int = 32,
) -> None:
    """Built-in index-maintenance cadence for the CDC handlers (round 9):
    every ``compact_every`` committed epochs, rewrite the accumulated
    index snapshot into ``target_files`` files (optionally z-order
    clustered). Insert-only CDC grows the table by >=1 file per epoch;
    the extended cdc_probe measured the scan fanning out to one task per
    file (608 tasks at 608 files), so an uncompacted index eventually
    turns the keys-only probe scheduling-bound even though its WALL is
    still flat at probe scales. The rewrite is bit-identical data
    (txtable.compact pins the snapshot it read), and a re-delivered epoch
    re-running the cadence is a harmless re-rewrite — CommitConflict
    (a commit raced the quiet-table assumption) is swallowed; the next
    cadence catches up."""
    if not compact_every or epoch_id <= 0 or epoch_id % compact_every:
        return
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    if TX.latest_version(table) < 0:
        return
    try:
        TX.compact(spark, table, target_files=target_files, cluster_by=cluster_by)
    except TX.CommitConflict:
        pass


def incremental_dedup_batch_handler(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """foreachBatch handler for continuous-crawl incremental dedup: each
    micro-batch is anti-joined against the accumulated corpus's key set,
    the within-batch first-seen dedup keeps min(``id_col``) per new key,
    and the survivors land in ONE idempotent txtable commit that carries
    BOTH the docs and their key columns (``key_hash``/``key``) — the
    table IS the index, so the survivors and the "index delta" commit
    atomically by construction (no two-table coordination problem).

    Why append, not merge: the anti-join guarantees every surviving row
    is a NEW key, so the CDC upsert degenerates to insert-only — an
    append commit (no snapshot rewrite), which at 100 TB is the only
    affordable shape for a high-rate crawl. ``app_epoch`` makes a
    re-delivered micro-batch (foreachBatch is at-least-once on restart) a
    committed no-op — exactly-once table contents.

    Index reads are keys-only despite living in the docs table: the
    snapshot probe projects just ``key``, and parquet's columnar layout
    means only that column's pages are read. Single-writer per table
    (the standard streaming-sink contract; concurrent appenders would
    race the key probe). ``compact_every=N`` runs the built-in
    file-count maintenance every N epochs (``_maybe_compact_index``)."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        incremental_text_dedup,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incdedup-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return  # re-delivered epoch: skip even the Spark work
        snapshot_keys = None
        if TX.latest_version(table) >= 0:
            snapshot_keys = TX.read(spark, table).select("key")
        op = incremental_text_dedup(
            text_col, id_col, snapshot_keys=snapshot_keys
        )
        survivors = op.apply(batch_df)
        enriched = survivors.withColumn("key", op.key).withColumn(
            "key_hash", F.xxhash64("key")
        )
        TX.append(enriched, table, app_epoch=epoch)
        _maybe_compact_index(spark, table, epoch_id, compact_every)

    return _commit


def stream_incremental_dedup_to_txtable(
    docs: DataFrame,
    table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drive a docs stream through incremental dedup into a transactional
    table and block until the source drains (replay harness form)."""
    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(incremental_dedup_batch_handler(table, text_col, id_col))
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _neardup_signature_cols(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Attach the MinHash index columns (``_sig`` 12-component signature +
    ``_bands`` band keys) computed from ``text_col`` with shingle size
    ``k`` — the ONE spelling of the stored index shape, shared by the CDC
    handler (epoch enrichment) and ``rebuild_neardup_index`` (offline
    re-key), so the two can never drift."""
    from webscale_multimodal_datapipeline_spark.functions import text as TXT
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signature,
        shingle_hashes,
    )

    return (
        df.withColumn("_toks", TXT.norm_tokens(text_col))
        .withColumn(
            "_shingles", TXT.word_shingles(text_col, k=k, toks=F.col("_toks"))
        )
        .withColumn(
            "_sig",
            minhash_signature(
                text_col, k=k, hashes=shingle_hashes(F.col("_shingles"))
            ),
        )
        .drop("_toks", "_shingles")
        .withColumn("_bands", lsh_bands(F.col("_sig")))
    )


def incremental_neardup_batch_handler(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    jaccard_threshold: float = 0.7,
    compact_every: int | None = None,
):
    """foreachBatch handler for continuous-crawl NEAR-dup dedup — the
    MinHash-LSH analog of ``incremental_dedup_batch_handler`` (exact
    dedup's CDC composition). Each micro-batch:

    1. **Within-batch** near-dup removal via the batch operator's own
       shared plan (``minhash_lsh_dup_map``): banded-LSH candidates,
       EXACT shingle-Jaccard verify (the shingles are in hand), min-id
       winner — identical semantics to the oracle-checked
       ``d_minhash_lsh_dedup``.
    2. **Cross-epoch** probe of the accumulated survivors: the txtable
       stores each survivor's 12-component MinHash signature and band
       keys (the table IS the LSH index — 12 bigints + 4 strings per
       doc, never the shingle sets: the only index shape whose storage
       survives 100 TB). Candidates = any shared band; verify by
       SIGNATURE AGREEMENT ĵ = agreeing components / NUM_MINHASHES ≥
       ``jaccard_threshold`` (Broder's unbiased Jaccard estimator — the
       same estimator ``d_minhash_est_vs_exact`` audits against exact
       Jaccard on these constants). The two verify tiers are deliberate:
       each stage uses the strongest verification its available state
       affords.
    3. Survivors + their ``_sig``/``_bands`` columns land in ONE
       epoch-idempotent append (the anti-join guarantees new docs only,
       so CDC degenerates to insert-only — no snapshot rewrite), making
       a re-delivered micro-batch a committed no-op.

    Index traffic is columnar-pruned: the probe projects only
    (``id_col``, ``_sig``, ``_bands``) from the table, so parquet reads
    just those pages, never the document bodies. Single-writer per table
    (standard streaming-sink contract)."""
    import math

    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        NUM_MINHASHES,
        minhash_lsh_dup_map,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    # ĵ ≥ threshold over 12 components ⇒ at least ceil(threshold·12) agree.
    min_agree = int(math.ceil(jaccard_threshold * NUM_MINHASHES - 1e-9))

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incneardup-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return  # re-delivered epoch: skip even the Spark work
        # Per-epoch materializations go through the resources list so the
        # handler releases them deterministically at epoch end (ADVICE r6
        # #3: per-epoch localCheckpoint blocks otherwise accumulate until
        # a driver GC happens to run — unbounded executor storage growth
        # in a long-running stream).
        from webscale_multimodal_datapipeline_spark.operators.dedup import (
            _materialize,
            release_all,
        )

        res: list = []
        dup = minhash_lsh_dup_map(
            batch_df, text_col, id_col, k, jaccard_threshold, resources=res
        )
        surv = batch_df.join(dup.select(id_col), id_col, "left_anti")
        enriched = _neardup_signature_cols(surv, text_col, k)
        # Materialize the enriched batch ONCE (the signature-table rule,
        # ARCHITECTURE §26/§27): it feeds the probe join AND the final
        # anti-join AND the append — left lazy, the 12-way md5-minhash
        # expression tree re-inlines into each and the probe join's
        # Catalyst planning alone dominates the epoch (measured 26 rec/s
        # vs ~20K after; same trap the batch dup_map hit).
        enriched = _materialize(enriched, res)
        if TX.latest_version(table) >= 0:
            idx = TX.read(spark, table).select(
                F.col(id_col).alias("_old_id"),
                F.col("_sig").alias("_old_sig"),
                F.explode("_bands").alias("_band"),
            )
            probe = enriched.select(
                F.col(id_col).alias("_new_id"),
                F.col("_sig").alias("_new_sig"),
                F.explode("_bands").alias("_band"),
            )
            agree = F.aggregate(
                F.zip_with(
                    "_new_sig", "_old_sig", lambda a, b: (a == b).cast("int")
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            rejected = (
                probe.join(idx, "_band")
                .dropDuplicates(["_new_id", "_old_id"])
                .filter(agree >= min_agree)
                .select(F.col("_new_id").alias(id_col))
                .distinct()
            )
            enriched = enriched.join(rejected, id_col, "left_anti")
        try:
            TX.append(enriched, table, app_epoch=epoch)
        finally:
            release_all(res)  # epoch state released whether or not commit won
        _maybe_compact_index(spark, table, epoch_id, compact_every)

    return _commit


def stream_incremental_neardup_to_txtable(
    docs: DataFrame,
    table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    jaccard_threshold: float = 0.7,
) -> None:
    """Drive a docs stream through incremental NEAR-dup into a
    transactional table and block until the source drains (replay
    harness form, mirrors ``stream_incremental_dedup_to_txtable``)."""
    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(
            incremental_neardup_batch_handler(
                table, text_col, id_col, k, jaccard_threshold
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cusum_from_rollup(spark: SparkSession, table: str) -> DataFrame:
    """Third streaming statistics lift (round 6): CUSUM changepoint over
    the ACCUMULATED hourly rollup snapshot — the SAME pure-BIGINT argmax
    as the batch ``e_cusum_hourly`` (shared scorer
    ``cusum_over_hourly_totals``), so streaming and batch changepoints
    are bit-identical on the same input. Composes the proven pieces:
    watermarked UPDATE-mode rollup → epoch-idempotent txtable MERGE →
    snapshot scoring."""
    from webscale_multimodal_datapipeline_spark.plans.events_queries import (
        cusum_over_hourly_totals,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    return cusum_over_hourly_totals(TX.read(spark, table).select("_h", "cnt"))


def user_xy(events: DataFrame) -> DataFrame:
    """Stage 1 of the STREAMING CUPED lift (``e_cuped`` lifted): the
    per-user covariate/outcome rollup through the batch query's own
    ``cuped_user_xy`` (shared code), in UPDATE mode — each trigger
    re-emits the FULL accumulated (x, y) decimal sums for users the
    batch touched, so a txtable MERGE keyed on ``user_id`` converges to
    the exact all-time batch rollup (the arm-counts pattern)."""
    from webscale_multimodal_datapipeline_spark.plans.events_queries import (
        cuped_user_xy,
    )

    return cuped_user_xy(events.filter(F.col("user_id").isNotNull()))


def stream_user_xy_to_txtable(xy: DataFrame, table: str, checkpoint: str) -> None:
    """Drive the UPDATE-mode per-user rollup into a transactional table
    via epoch-idempotent MERGE (``stream_arm_counts_to_txtable`` shape).
    UPDATE mode emits one row per changed key per trigger; the
    struct-max collapse is defensive determinism only."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max(F.struct("x", "y")).alias("_s"))
            .select("user_id", F.col("_s.x").alias("x"), F.col("_s.y").alias("y"))
        )
        epoch = f"cuped-epoch-{epoch_id}"
        if TX.latest_version(table) < 0:
            TX.append(latest, table, app_epoch=epoch)
        else:
            TX.merge(spark, latest, table, "user_id", app_epoch=epoch)

    q = (
        xy.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cuped_from_user_xy(spark: SparkSession, table: str) -> DataFrame:
    """Stage 2 of the streaming CUPED lift: score the accumulated per-user
    snapshot through the SAME ``cuped_over_user_xy`` float tree as the
    batch ``e_cuped`` — streaming and batch variance-reduction reports
    are bit-identical on the same input (fourth statistics lift; the
    spike/SRM/CUSUM pattern)."""
    from webscale_multimodal_datapipeline_spark.plans.events_queries import (
        cuped_over_user_xy,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    return cuped_over_user_xy(TX.read(spark, table).select("user_id", "x", "y"))


# ---------------------------------------------------------------------------
# Fifth statistics lift: incremental KMV distinct-count (x_kmv_distinct
# lifted). The txtable stores the per-source k-minimum content-hash POOL —
# k rows per source keyed by (source, rank), so the table IS the sketch:
# bounded state regardless of corpus size, and MERGE on the fixed rank
# keyset needs no row deletion (the k-min pool only ever improves).
# ---------------------------------------------------------------------------


def kmv_batch_handler(table: str):
    """foreachBatch handler for streaming KMV cardinality: each micro-batch
    contributes its distinct per-source content hashes, the union with the
    stored pool is re-ranked to the k smallest per source, and the k rows
    land via epoch-idempotent MERGE keyed on ``source#rank``.

    Exactness by construction: min-k over a union is associative,
    commutative, and idempotent, so after any replay order the stored pool
    equals the batch k-min over everything seen — the streaming estimate is
    then BIT-IDENTICAL to ``x_kmv_distinct``'s (shared constants + float
    spelling, ``kmv_from_pool``). Re-delivered epochs are committed no-ops
    (``app_epoch``).

    Scale shape: the stored side is n_sources × k rows (driver-bounded);
    only the batch's distinct hashes shuffle. The MERGE keyset is FIXED
    (ranks 1..k per source), so no deletion path is ever needed — a rank's
    hash can only decrease."""
    from webscale_multimodal_datapipeline_spark.functions import text as TXT
    from webscale_multimodal_datapipeline_spark.plans.sketch_queries import _KMV_K
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"kmv-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return
        h = (
            batch_df.filter(F.col("text").isNotNull())
            .select("source", TXT.fingerprint("text").alias("_h"))
            .dropDuplicates(["source", "_h"])
        )
        fresh = TX.latest_version(table) < 0
        if not fresh:
            stored = TX.read(spark, table).select("source", "_h")
            h = h.unionByName(stored).dropDuplicates(["source", "_h"])
        w = Window.partitionBy("source").orderBy("_h")
        topk = (
            h.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= _KMV_K)
            .select(
                F.concat_ws("#", F.col("source"), F.col("_rn")).alias("_key"),
                "source",
                "_rn",
                "_h",
            )
        )
        if fresh:
            TX.append(topk, table, app_epoch=epoch)
        else:
            TX.merge(spark, topk, table, "_key", app_epoch=epoch)

    return _commit


def stream_kmv_to_txtable(docs: DataFrame, table: str, checkpoint: str) -> None:
    """Drive a docs stream through the KMV sketch into a transactional
    table and block until the source drains (replay harness form)."""
    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(kmv_batch_handler(table))
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def kmv_from_pool(spark: SparkSession, table: str) -> DataFrame:
    """Stage 2 of the streaming KMV lift: the per-source + ``__union__``
    cardinality estimates from the accumulated pool, through the SAME
    estimator spelling as the batch ``x_kmv_distinct`` (shared ``_KMV_K``
    / ``_KMV_NUM`` constants, same when/otherwise float tree) — so the
    streaming snapshot's (source, sketch_n, kth_hash, kmv_estimate)
    columns are bit-identical to the batch query's on the same corpus.

    The under-full branch needs no side channel: a source with fewer than
    k distinct hashes has its ENTIRE hash set in the pool, so
    ``sketch_n`` IS the exact distinct count there."""
    from webscale_multimodal_datapipeline_spark.plans.sketch_queries import (
        _KMV_K,
        _KMV_NUM,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    pool = TX.read(spark, table).select("source", "_rn", "_h")
    per = pool.groupBy("source").agg(
        F.count(F.lit(1)).alias("sketch_n"),
        F.max(F.when(F.col("_rn") == _KMV_K, F.col("_h"))).alias("kth_hash"),
    )
    wu = Window.orderBy("_h")
    upool = (
        pool.select("_h")
        .distinct()
        .withColumn("_rn", F.row_number().over(wu))
        .filter(F.col("_rn") <= _KMV_K)
    )
    uagg = upool.agg(
        F.count(F.lit(1)).alias("sketch_n"),
        F.max(F.when(F.col("_rn") == _KMV_K, F.col("_h"))).alias("kth_hash"),
    ).withColumn("source", F.lit("__union__"))
    rows = per.unionByName(uagg.select("source", "sketch_n", "kth_hash"))
    est_raw = F.when(
        F.col("sketch_n") < _KMV_K, F.col("sketch_n").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth_hash").cast("double"))
    return rows.select(
        "source",
        "sketch_n",
        "kth_hash",
        F.round(est_raw, 4).alias("kmv_estimate"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup CDC (round 7 session 2): the third dedup
# family's continuous-crawl composition, completing exact (hash index)
# and MinHash (signature index) — here the stored EMBEDDING is the full
# verification state, so the cross-epoch verify is the exact cosine, the
# same tier as the within-batch stage.
# ---------------------------------------------------------------------------


def incremental_embdedup_batch_handler(
    table: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.9,
    planes: int = 8,
    compact_every: int | None = None,
):
    """foreachBatch handler for continuous-crawl SEMANTIC dedup. Each
    micro-batch: (1) within-batch removal via the batch operator's shared
    plan (``embedding_cosine_dup_map`` — hyperplane buckets, GEMM verify,
    min-id winner, the oracle-checked ``v_cosine_dedup`` semantics);
    (2) cross-epoch probe of the accumulated survivors: bucket equi-join
    against the stored index, EXACT cosine verify (both sides carry their
    embeddings); (3) survivors + their ``_bucket`` key land in ONE
    epoch-idempotent insert-only append.

    Plane count is an EXPLICIT pin, never the corpus-scaled schedule, and
    ``center=False`` is pinned past the batch operator's ``"auto"``
    default: bucket definitions must be STABLE across epochs (a centered
    bias drifts with the corpus mean, and the auto-gate's decision drifts
    with the corpus profile — either silently re-keys every stored
    bucket; the scaled schedule re-keys on growth). A deployment that
    outgrows its pinned planes rebuilds the index offline —
    ``rebuild_embdedup_index`` is that operator (round 8; §40).

    Scale shape: the probe joins on ``_bucket`` and fetches embeddings
    for BUCKET-MATCHING rows only; periodically running
    ``txtable.compact(table, cluster_by=["_bucket"])`` (the z-order
    rewrite) keeps that read file-pruned, so probe I/O tracks candidate
    count, not corpus size. Single-writer per table."""
    from webscale_multimodal_datapipeline_spark.functions import vectors as VX
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        _materialize,
        embedding_cosine_dup_map,
        hyperplane_bucket,
        release_all,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incembdedup-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return
        res: list = []
        dup = embedding_cosine_dup_map(
            batch_df, emb_col, id_col, dim, threshold, planes=planes,
            resources=res, center=False,
        )
        surv = batch_df.join(dup.select(id_col), id_col, "left_anti")
        enriched = _materialize(
            surv.withColumn("_bucket", hyperplane_bucket(emb_col, dim, planes)),
            res,
        )
        if TX.latest_version(table) >= 0:
            idx = TX.read(spark, table).select(
                F.col("_bucket"), F.col(emb_col).alias("_old_emb")
            )
            cos = VX.guarded_div(
                VX.dot(F.col(emb_col), F.col("_old_emb")),
                VX.l2_norm(emb_col) * VX.l2_norm("_old_emb"),
            )
            rejected = (
                enriched.select(id_col, emb_col, "_bucket")
                .join(idx, "_bucket")
                .filter((cos >= threshold) | F.isnan(cos))
                .select(id_col)
                .distinct()
            )
            enriched = enriched.join(rejected, id_col, "left_anti")
        try:
            TX.append(enriched, table, app_epoch=epoch)
        finally:
            release_all(res)
        _maybe_compact_index(
            spark, table, epoch_id, compact_every, cluster_by=["_bucket"]
        )

    return _commit


def stream_incremental_embdedup_to_txtable(
    vecs: DataFrame,
    table: str,
    checkpoint: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.9,
    planes: int = 8,
) -> None:
    """Drive an embeddings stream through incremental semantic dedup into
    a transactional table and block until the source drains (replay
    harness form, mirrors the exact/MinHash CDC drivers)."""
    q = (
        vecs.writeStream.outputMode("append")
        .foreachBatch(
            incremental_embdedup_batch_handler(
                table, emb_col, id_col, dim, threshold, planes
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Offline CDC index rebuilds (round 8, VERDICT r7 #2): §39's contract said
# "outgrowing the pinned index parameters means an offline rebuild" but
# shipped no tooling. These are that tooling — ONE batch job re-keying the
# stored state, swapped in by ONE atomic txtable overwrite commit, with the
# epoch-idempotence history PRESERVED (committed_epochs reads the full log,
# so a re-delivered pre-rebuild micro-batch is still a committed no-op).
# Single-writer discipline applies: pause the stream, rebuild, resume the
# handler with the NEW parameter pin. Reference analogue: backend.py:13-74's
# ``reset()`` is the primitive this operator is the grown-up version of.
#
# When to trigger (§40): the pinned planes/shingle schedule was sized for a
# target bucket occupancy; once `n_rows / 2^planes` drifts well past that
# target (the same `scaled_planes` arithmetic, applied to the stored row
# count), probe candidate lists grow linearly with corpus size and the CDC
# epoch cost follows — rebuild at the next maintenance window.
# ---------------------------------------------------------------------------


def rebuild_embdedup_index(
    spark: SparkSession,
    table: str,
    planes: int,
    emb_col: str = "embedding",
    dim: int = 64,
    cluster: bool = True,
) -> int:
    """Re-key the embedding-CDC table's ``_bucket`` index column to a NEW
    pinned plane count: one scan + one atomic ``overwrite`` commit (the
    stored embeddings ARE the full verification state, so a re-key is a
    pure recompute — no corpus re-read, no dedup decisions revisited).
    ``cluster=True`` follows with the z-order compaction on the new key so
    probe reads stay file-pruned immediately (otherwise the first
    post-rebuild ``compact(cluster_by=["_bucket"])`` maintenance pass
    restores it). Returns the committed version. Resume the stream with
    ``incremental_embdedup_batch_handler(..., planes=<new>)``."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        hyperplane_bucket,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    stored = TX.read(spark, table).drop("_bucket")
    rekeyed = stored.withColumn(
        "_bucket", hyperplane_bucket(emb_col, dim, planes)
    )
    version = TX.overwrite(rekeyed, table)
    if cluster:
        version = TX.compact(spark, table, cluster_by=["_bucket"])
    return version


def rebuild_neardup_index(
    spark: SparkSession,
    table: str,
    k: int = 3,
    text_col: str = "text",
) -> int:
    """Re-key the MinHash-CDC table's ``_sig``/``_bands`` index columns
    with a NEW shingle size: the stored document bodies are sufficient
    state (signatures are a pure function of ``text_col``), so the rebuild
    is one scan + one atomic ``overwrite``. Shares the exact enrichment
    spelling with the live handler (``_neardup_signature_cols``) — a
    rebuild with the CURRENT ``k`` is bit-identical to the stored columns
    (parity-tested), and cross-epoch probes against the re-keyed index
    continue seamlessly. Returns the committed version. Resume with
    ``incremental_neardup_batch_handler(..., k=<new>)``."""
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    stored = TX.read(spark, table).drop("_sig", "_bands")
    rekeyed = _neardup_signature_cols(stored, text_col, k)
    return TX.overwrite(rekeyed, table)


# ---------------------------------------------------------------------------
# Streaming sequence packing (round 9): the packing analog of the CDC
# dedup handlers — the corpus layout cursor continues across epochs.
# ---------------------------------------------------------------------------


def incremental_pack_batch_handler(
    table: str,
    budget: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """foreachBatch handler for STREAMING concat-and-chunk sequence
    packing: each micro-batch is laid out in ``id_col`` order starting at
    the stored corpus CURSOR, so the assignment over N micro-batches is
    identical to ``operators/packing.py::concat_chunk_pack`` on their
    concatenation whenever batches arrive in layout order (the
    crawl-replay shape; parity-tested). Epoch-idempotent append — a
    re-delivered micro-batch is a committed no-op.

    Cursor recovery is METADATA-ONLY at any scale: every stored row
    carries ``_tok_end`` (= its global token end offset, an exact BIGINT
    ``pack_id*budget + pack_offset + n_tokens``), and the cursor is the
    max committed file-stat for that column — read from the txlog,
    O(snapshot files) driver-side, no parquet footer and no data pages.
    A file without usable stats falls back to one columnar MAX scan.

    Same contracts as the dedup handlers: single writer per table, the
    ``budget`` is pinned for the table's lifetime (a mid-stream budget
    change re-keys every stored window — rebuild offline instead), and
    ``compact_every`` runs the built-in file-count maintenance."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        release_all,
    )
    from webscale_multimodal_datapipeline_spark.operators.packing import (
        PACK_BUDGET,
        concat_chunk_pack,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    # ONE catalog default (code review r9: a hardcoded 2048 here would
    # silently diverge from the batch operator's if PACK_BUDGET is retuned,
    # breaking the parity this handler promises)
    b = PACK_BUDGET if budget is None else int(budget)

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incpack-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return
        cursor = 0
        if TX.latest_version(table) >= 0:
            stats = TX.snapshot_file_stats(table)
            ends = [
                st["_tok_end"][1] for st in stats.values() if "_tok_end" in st
            ]
            if stats and len(ends) == len(stats):
                cursor = int(max(ends))
            else:
                row = TX.read(spark, table).agg(
                    F.max("_tok_end").alias("m")
                ).first()
                cursor = int(row["m"] or 0)
        # per-epoch materialization goes through `res` so the handler
        # releases it deterministically at epoch end (ADVICE r6 #3 — the
        # same rule the dedup handlers follow; code review r9 caught this
        # one leaking a localCheckpoint per epoch)
        res: list = []
        assigned = concat_chunk_pack(
            batch_df, budget=b, id_col=id_col, text_col=text_col,
            base=cursor, resources=res,
        ).withColumn(
            "_tok_end",
            (
                F.col("pack_id") * F.lit(b)
                + F.col("pack_offset")
                + F.col("n_tokens")
            ).cast("bigint"),
        )
        try:
            TX.append(assigned, table, app_epoch=epoch)
        finally:
            release_all(res)
        _maybe_compact_index(spark, table, epoch_id, compact_every)

    return _commit


def incremental_spandedup_batch_handler(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    compact_every: int | None = None,
):
    """foreachBatch handler for continuous-crawl SUBSTRING-SPAN dedup —
    the online (earlier-wins) form of ``operators/dedup.py::
    dup_span_scrub`` (Lee et al. ExactSubstr), completing the CDC story
    across all four dedup families (exact / minhash / embedding / span).

    Per micro-batch, a k-gram occurrence is duplicated text iff its gram
    (a) occurs >1 time WITHIN the batch (the batch operator's symmetric
    rule — a single epoch through this handler equals the batch scrub,
    parity-tested), or (b) was EVER seen in a prior epoch (the index
    probe — an earlier doc already carries that text, so the new copy is
    cut; asymmetric by design: text that survived into the corpus once
    never enters it again). Covered positions from (a) ∪ (b) go through
    the shared interval merge + rebuild (``merge_covered_positions`` /
    ``scrub_with_spans``), and every batch doc commits exactly once —
    scrubbed, possibly to ``''`` — in ONE epoch-idempotent append.

    The table IS the gram index (the exact-dedup handler's one-commit
    rule): each committed row carries ``_grams`` — the positional gram
    hashes of its ORIGINAL text (not the scrubbed remainder: a gram
    whose every in-batch copy was cut must still block a third copy
    next epoch). The probe explodes only that column (columnar-pruned;
    document bodies never read). This index is TOKEN-scale — ~1 bigint
    per token, the inherent price of substring-level dedup (Lee et
    al.'s suffix array is token-scale too); the probe is a semi-join on
    the 64-bit hash, linear per epoch, measured in the cdc_probe span
    lane. Single writer per table; ``compact_every`` runs the built-in
    file-count cadence."""
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        DUP_SPAN_K,
        _materialize,
        _positional_gram_hashes,
        merge_covered_positions,
        release_all,
        scrub_with_spans,
    )
    from webscale_multimodal_datapipeline_spark.functions import text as TXT
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    kk = DUP_SPAN_K if k is None else int(k)

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incspan-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return  # re-delivered epoch: skip even the Spark work
        res: list = []
        try:
            # _toks MUST be a materialized column, not an inline
            # expression: the positional-gram HOF's interpreted lambda
            # re-evaluates its `toks` argument per element_at, so an
            # inlined norm_tokens re-tokenizes the full text 3*positions
            # times per row (measured 24.2s of a 28s epoch; 0.6s as a
            # column — the word_shingles PERF trap in a new disguise).
            base = _materialize(
                batch_df.withColumn("_toks", TXT.norm_tokens(text_col))
                .withColumn(
                    "_grams",
                    _positional_gram_hashes(F.col("_toks"), kk),
                )
                .drop("_toks"),
                res,
            )
            inst = _materialize(
                base.select(
                    id_col, F.posexplode("_grams").alias("pos", "_h")
                ),
                res,
            )
            bdup = (
                inst.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select("_h")
            )
            covered = inst.join(bdup, "_h", "leftsemi").select(id_col, "pos")
            if TX.latest_version(table) >= 0:
                idx_h = TX.read(spark, table).select(
                    F.explode("_grams").alias("_h")
                )
                covered = (
                    covered.unionByName(
                        inst.join(idx_h, "_h", "leftsemi").select(
                            id_col, "pos"
                        )
                    )
                    .distinct()
                )
            spans = merge_covered_positions(covered, id_col, kk)
            scrubbed = scrub_with_spans(base, spans, text_col, id_col)
            out = scrubbed.join(
                base.select(id_col, "_grams"), id_col
            )
            TX.append(out, table, app_epoch=epoch)
        finally:
            release_all(res)
        _maybe_compact_index(spark, table, epoch_id, compact_every)

    return _commit


def span_cdc_batch_handler(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    compact_every: int | None = None,
    mode: str = "auto",
):
    """Span-CDC entry point (round 10, VERDICT r9 task 3): picks the
    handler implementation for continuous-crawl substring-span dedup.

    The SKETCH path is the DEFAULT for new tables. The r9 A/B probe
    (``docs/probes/cdc_probe_r9s2_span.jsonl``, extended in r10) measured
    the inline handler's epoch wall rising with accumulated index size
    (α 0.111 — its probe explodes the whole stored ``_grams`` column every
    epoch) while the bloom-sketch + point-pruned-verify handler stays flat
    (α −0.016) with identical scrub output (parity-tested). At 100-TB
    crawl scale only the flat lane survives, so defaults follow the
    evidence.

    ``mode``:
      * ``"auto"`` (default) — continue a LEGACY inline-layout table with
        the inline handler (its index lives as a ``_grams`` column on the
        doc rows; the sketch handler would not see it and earlier-wins
        would silently break), otherwise use the sketch handler. Layout
        detection: docs table exists but the ``<table>__grams`` sidecar
        does not ⇒ legacy inline.
      * ``"sketch"`` / ``"inline"`` — force the implementation.
    """
    if mode not in ("auto", "sketch", "inline"):
        raise ValueError(f"span CDC mode must be auto|sketch|inline, got {mode!r}")
    if mode == "auto":
        from webscale_multimodal_datapipeline_spark.sources import txtable as TX

        legacy_inline = (
            TX.latest_version(table) >= 0
            and TX.latest_version(f"{table}__grams") < 0
        )
        mode = "inline" if legacy_inline else "sketch"
    impl = (
        incremental_spandedup_batch_handler
        if mode == "inline"
        else incremental_spandedup_sketch_batch_handler
    )
    return impl(table, text_col, id_col, k, compact_every)


def stream_incremental_spandedup_to_txtable(
    docs: DataFrame,
    table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    mode: str = "auto",
) -> None:
    """Drive a docs stream through incremental span dedup into a
    transactional table and block until the source drains (replay
    harness form, mirrors the other CDC wrappers). Since round 10 the
    handler is resolved by ``span_cdc_batch_handler`` — new tables get
    the flat-epoch sketch path by default; legacy inline-layout tables
    keep their inline handler (see its docstring for the evidence)."""
    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(
            span_cdc_batch_handler(table, text_col, id_col, k, mode=mode)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Span-CDC SCALE PATH (round 9 session 2): the inline handler above is
# exact but its probe explodes the accumulated gram column every epoch —
# token-scale index traffic, honest-but-linear (measured in the cdc_span
# lane). The sketch handler below makes the steady-state epoch cost
# independent of index size without giving up exactness:
#
#   * ``<table>__grams``  — the exact 60-bit gram-hash table (8 bytes/
#     token), insert-only; the compact cadence CLUSTERS it by ``_h`` so
#     every file spans a narrow hash range with committed min/max stats.
#   * ``<table>__sketch`` — bloom bitmaps: one 'epoch' row per commit
#     (this batch's grams) plus periodic 'full' rows rebuilt from the
#     gram table; same-(m,k) bitmaps OR together, so the probe merges
#     the latest full row + epoch rows after it (bounded count).
#   * probe = numpy bloom test over the batch's DISTINCT gram hashes
#     (driver-side, batch-bounded — the bounded-broadcast class), then
#     EXACT verify of the few bloom-positive candidates via a
#     point-pruned read of the clustered gram table
#     (``txtable.read_points`` — the stored-IVF file-I/O shape). Bloom
#     false positives therefore cost a small read, never a wrong scrub.
#
# Growth discipline: when the merged bitmap's load passes
# SPAN_SKETCH_GROW_LOAD the rebuild quadruples ``m`` (a saturated bloom
# admits everything — the probe would silently degrade to a full
# verify); when the epoch-row count since the last full row passes
# SPAN_SKETCH_MAX_EPOCH_ROWS it rebuilds at the same ``m`` to keep the
# per-epoch sketch read bounded. Rebuilds scan the gram table once —
# amortized (log-many over the table's lifetime), the same offline-
# rebuild economics as rebuild_embdedup_index.
# ---------------------------------------------------------------------------

SPAN_SKETCH_M0 = 1 << 22  # initial bits per generation (512 KiB)
SPAN_SKETCH_K = 8
SPAN_SKETCH_GROW_LOAD = 0.30
SPAN_SKETCH_TARGET_LOAD = 0.08
SPAN_SKETCH_MAX_EPOCH_ROWS = 64


def _bloom_hashes(h, m: int, k: int):
    """(n, k) bit positions via double hashing — identical arithmetic on
    the numpy probe side and the Spark rebuild side (pure integer mod)."""
    import numpy as np

    h = np.asarray(h, dtype=np.int64)
    h1 = h % m
    h2 = 1 + (h >> 20) % (m - 1)
    return (h1[:, None] + np.arange(k, dtype=np.int64) * h2[:, None]) % m


def _bloom_build(h, m: int, k: int) -> bytes:
    import numpy as np

    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(h):
        pos = np.unique(_bloom_hashes(h, m, k).ravel())
        bits[pos // 8] |= np.uint8(1) << (pos % 8).astype(np.uint8)
    return bits.tobytes()


def _bloom_maybe(h, bitmap: "bytes | bytearray", m: int, k: int):
    """Boolean mask: h[i] possibly in the set (all k bits set)."""
    import numpy as np

    bits = np.frombuffer(bitmap, dtype=np.uint8)
    pos = _bloom_hashes(h, m, k)
    got = (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
    return got.all(axis=1)


def _bloom_positions_col(h_col, m: int, k: int):
    """Spark mirror of ``_bloom_hashes`` for the distributed 'full'
    rebuild: array<bigint> of the k bit positions for a hash column."""
    h1 = h_col % F.lit(m)
    h2 = F.lit(1) + F.shiftright(h_col, 20) % F.lit(m - 1)
    return F.array(*[(h1 + F.lit(i) * h2) % F.lit(m) for i in range(k)])


def _span_sketch_state(spark, sketch_table):
    """(m, k, merged_bitmap, epoch_rows_since_full) from the sketch
    table — latest 'full' row (if any) plus the 'epoch' rows after it.
    Returns None when the table doesn't exist yet.

    Epoch rows carry the batch's DISTINCT GRAM HASHES (r10 — packed
    int64 ``grams`` bytes, ~8 B per distinct gram), not an m-sized
    bitmap: their bits are PLACED into the merged filter here, at the
    CURRENT (m, k). Why: an m-sized delta bitmap made every epoch row
    cost m/8 bytes once the filter grew (8 MB at m=2^26), and this
    state read collects up to MAX_EPOCH_ROWS of them twice per epoch —
    the extended probe measured epochs rising 6 s → 58 s from exactly
    that. Gram-hash rows cost O(batch) regardless of m, and survive
    generation growth (no superseded-m skip needed). Legacy bitmap
    epoch rows (pre-r10 tables) still merge via the old OR branch."""
    import numpy as np

    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    if TX.latest_version(sketch_table) < 0:
        return None
    rows = TX.read(spark, sketch_table).collect()
    fulls = [r for r in rows if r.kind == "full"]
    base_epoch = -1
    if fulls:
        latest_full = max(fulls, key=lambda r: (r.epoch_id, r.m))
        m, k = int(latest_full.m), int(latest_full.k)
        merged = np.frombuffer(bytes(latest_full.bitmap), dtype=np.uint8).copy()
        base_epoch = latest_full.epoch_id
        live = [
            r for r in rows if r.kind == "epoch" and r.epoch_id > base_epoch
        ]
    else:
        live = [r for r in rows if r.kind == "epoch"]
        if not live:
            return None
        m, k = int(live[0].m), int(live[0].k)
        merged = np.zeros(m // 8, dtype=np.uint8)
    n_live = 0
    for r in live:
        grams = getattr(r, "grams", None)
        if grams is not None:
            g = np.frombuffer(bytes(grams), dtype="<i8")
            if len(g):
                pos = np.unique(_bloom_hashes(g, m, k).ravel())
                merged[pos // 8] |= np.uint8(1) << (pos % 8).astype(np.uint8)
            n_live += 1
            continue
        if int(r.m) != m:  # legacy bitmap row of a superseded generation
            continue
        merged |= np.frombuffer(bytes(r.bitmap), dtype=np.uint8)
        n_live += 1
    return m, k, merged, n_live


def _span_sketch_rebuild(spark, gram_table, sketch_table, epoch_id, epoch):
    """Write a 'full' sketch row from the exact gram table, growing ``m``
    until the projected load is under SPAN_SKETCH_TARGET_LOAD. One gram-
    table scan; bit positions are computed distributed and only the
    DISTINCT positions (<= load * m of them) come to the driver."""
    import numpy as np

    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    grams = TX.read(spark, gram_table).select("_h")
    n = grams.count()
    m = SPAN_SKETCH_M0
    while SPAN_SKETCH_K * max(n, 1) / m > SPAN_SKETCH_TARGET_LOAD:
        m *= 4
    pos = (
        grams.select(
            F.explode(
                _bloom_positions_col(F.col("_h"), m, SPAN_SKETCH_K)
            ).alias("p")
        )
        .distinct()
        .toPandas()["p"]
        .to_numpy()
    )
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(pos):
        bits[pos // 8] |= np.uint8(1) << (pos % 8).astype(np.uint8)
    row = local_frame(
        spark,
        [
            (
                int(epoch_id),
                "full",
                int(m),
                SPAN_SKETCH_K,
                int(n),
                bytearray(bits.tobytes()),
                None,
            )
        ],
        "epoch_id bigint, kind string, m bigint, k int, n_grams bigint, "
        "bitmap binary, grams binary",
    )
    # OVERWRITE, not append (round 10 — found by the extended probe): an
    # insert-only sketch table keeps every superseded epoch/full row
    # forever, and ``_span_sketch_state`` collects the WHOLE table twice
    # per epoch — the state read grew linearly with epoch count (~0.5-2 MB
    # per stored bitmap). The full row subsumes everything before it (it
    # is rebuilt from the gram table, which already holds this epoch's
    # grams — the grams commit lands first), so the rebuild truncates the
    # sketch table to exactly one row; the per-epoch state read is then
    # bounded by 1 full + <= SPAN_SKETCH_MAX_EPOCH_ROWS epoch rows
    # regardless of stream age. Epoch idempotency is unaffected: the
    # app_epoch markers live in the txlog, which overwrite preserves.
    TX.overwrite(row, sketch_table)


def incremental_spandedup_sketch_batch_handler(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    compact_every: int | None = None,
):
    """Scale-path span-CDC handler (see the section comment above):
    same earlier-wins semantics and same scrub output as
    ``incremental_spandedup_batch_handler`` (parity-tested), but the
    index probe is bloom-prefiltered + point-pruned-verified instead of
    an index-wide explode, so the steady-state epoch wall is bounded by
    BATCH size, not index size.

    Commit order: grams -> sketch -> docs (each epoch-idempotent; the
    docs table's marker gates re-entry, so a crash between commits is
    completed by the retry — insert-only appends make the completion
    exact). Doc rows stay lean (no gram arrays): ``<table>__grams`` is
    the authoritative gram store and the rebuild source."""
    import numpy as np

    from webscale_multimodal_datapipeline_spark.functions import text as TXT
    from webscale_multimodal_datapipeline_spark.operators.dedup import (
        DUP_SPAN_K,
        _materialize,
        _positional_gram_hashes,
        merge_covered_positions,
        release_all,
        scrub_with_spans,
    )
    from webscale_multimodal_datapipeline_spark.sources import txtable as TX

    kk = DUP_SPAN_K if k is None else int(k)

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = f"incspansk-epoch-{epoch_id}"
        if epoch in TX.committed_epochs(table):
            return
        gram_t, sketch_t = f"{table}__grams", f"{table}__sketch"
        res: list = []
        try:
            # _toks MUST be a materialized column, not an inline
            # expression: the positional-gram HOF's interpreted lambda
            # re-evaluates its `toks` argument per element_at, so an
            # inlined norm_tokens re-tokenizes the full text 3*positions
            # times per row (measured 24.2s of a 28s epoch; 0.6s as a
            # column — the word_shingles PERF trap in a new disguise).
            base = _materialize(
                batch_df.withColumn("_toks", TXT.norm_tokens(text_col))
                .withColumn(
                    "_grams",
                    _positional_gram_hashes(F.col("_toks"), kk),
                )
                .drop("_toks"),
                res,
            )
            inst = _materialize(
                base.select(
                    id_col, F.posexplode("_grams").alias("pos", "_h")
                ),
                res,
            )
            bdup = (
                inst.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select("_h")
            )
            covered = inst.join(bdup, "_h", "leftsemi").select(id_col, "pos")
            # batch-bounded driver collect (the bounded-broadcast class):
            # the batch's DISTINCT gram hashes, for the numpy bloom test
            bg = (
                inst.select("_h").distinct().toPandas()["_h"].to_numpy()
            )
            state = _span_sketch_state(spark, sketch_t)
            if state is not None and len(bg):
                m, bk, merged, _ = state
                cand = bg[_bloom_maybe(bg, merged, m, bk)]
                if len(cand):
                    cand_df = local_frame(
                        spark,
                        [(int(x),) for x in cand], "_h bigint"
                    )
                    verified = (
                        TX.read_points(
                            spark, gram_t, "_h", [int(x) for x in cand]
                        )
                        # own-epoch exclusion: a crash AFTER the gram/
                        # sketch commits but BEFORE the docs commit makes
                        # the retry probe an index already containing
                        # THIS batch's grams — without the filter every
                        # position would self-match and the whole batch
                        # scrub to ''. Gram rows carry their epoch so the
                        # verify only accepts strictly-earlier epochs
                        # (first attempt and retry compute identically).
                        .filter(F.col("epoch_id") < int(epoch_id))
                        .join(F.broadcast(cand_df), "_h", "leftsemi")
                        .select("_h")
                        .distinct()
                    )
                    covered = covered.unionByName(
                        inst.join(verified, "_h", "leftsemi").select(
                            id_col, "pos"
                        )
                    ).distinct()
            spans = merge_covered_positions(covered, id_col, kk)
            out = scrub_with_spans(base, spans, text_col, id_col)
            # --- commits: grams, sketch, docs (docs last = epoch gate) ---
            TX.append(
                inst.select("_h")
                .distinct()
                .withColumn("epoch_id", F.lit(int(epoch_id)).cast("bigint")),
                gram_t,
                app_epoch=epoch,
            )
            state_m = state[0] if state is not None else SPAN_SKETCH_M0
            state_k = state[1] if state is not None else SPAN_SKETCH_K
            # epoch rows carry the batch's distinct GRAM HASHES, not an
            # m-sized bitmap — O(batch) bytes however large the filter
            # has grown; the prober places their bits at read time (see
            # _span_sketch_state for the measured failure this replaces)
            erow = local_frame(
                spark,
                [
                    (
                        int(epoch_id),
                        "epoch",
                        int(state_m),
                        int(state_k),
                        int(len(bg)),
                        None,
                        bytearray(
                            np.unique(np.asarray(bg, dtype=np.int64))
                            .astype("<i8")
                            .tobytes()
                        ),
                    )
                ],
                "epoch_id bigint, kind string, m bigint, k int, "
                "n_grams bigint, bitmap binary, grams binary",
            )
            TX.append(erow, sketch_t, app_epoch=epoch)
            # growth / boundedness ritual AFTER this epoch's rows land
            new_state = _span_sketch_state(spark, sketch_t)
            if new_state is not None:
                m2, _, merged2, n_live = new_state
                load = float(
                    np.unpackbits(merged2).sum()
                ) / m2
                if (
                    load > SPAN_SKETCH_GROW_LOAD
                    or n_live > SPAN_SKETCH_MAX_EPOCH_ROWS
                ):
                    _span_sketch_rebuild(
                        spark, gram_t, sketch_t, epoch_id, epoch
                    )
            TX.append(out, table, app_epoch=epoch)
        finally:
            release_all(res)
        _maybe_compact_index(
            spark, gram_t, epoch_id, compact_every, cluster_by=["_h"]
        )
        _maybe_compact_index(spark, table, epoch_id, compact_every)

    return _commit
