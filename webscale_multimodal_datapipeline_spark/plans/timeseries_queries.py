"""Time-series / hypertable-style queries over ``events``: multi-resolution
rollup ladders (continuous-aggregate semantics), bucketized range joins,
and gap-tolerant diagnostics — operators the reference lacks but a
training-data pipeline's telemetry layer needs (SURVEY §2.6 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.session import local_frame

DEC = "decimal(18,6)"


def ts_rollup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup ladder: raw → minute → hour → day, each level
    RE-AGGREGATED from the previous (not from raw). Returning the day
    level proves the whole ladder: exact decimal sums make
    sum-of-sums ≡ direct aggregation, which is what the oracle computes.

    At scale each level is a materialized continuous aggregate ~60x
    smaller than its input; re-aggregating the previous level instead of
    raw is the difference between scanning 100 TB and scanning 2 GB.
    """
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("v"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("v"), 4).cast("double").alias("total_value"),
    )


TS_ROLLUP_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join, bucketized: join lineitem rows to quantity bands
    [1-10], [11-20], ... via an EQUI-join on a computed band id instead of
    a theta join (``l_quantity BETWEEN lo AND hi`` as a join condition
    would be a broadcast-nested-loop — quadratic at scale; the bucket
    trick makes it a hash join)."""
    l = load_table(spark, sf_dir, "lineitem")
    bands = local_frame(
        spark,
        [(i, i * 10 + 1, (i + 1) * 10, f"{i * 10 + 1}-{(i + 1) * 10}") for i in range(5)],
        "band_id int, lo int, hi int, band string",
    )
    with_band = l.withColumn(
        "band_id", F.floor((F.col("l_quantity") - 1) / 10).cast("int")
    )
    return (
        with_band.join(F.broadcast(bands), "band_id")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("revenue"),
        )
    )


TS_RANGE_SQL = """
SELECT band, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN (
  SELECT * FROM (VALUES (1, 10, '1-10'), (11, 20, '11-20'), (21, 30, '21-30'),
                        (31, 40, '31-40'), (41, 50, '41-50')) AS b(lo, hi, band)
) ON l_quantity BETWEEN lo AND hi
GROUP BY band
"""


def ts_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest inter-event gap per user (lag diagnostics — stream-health
    shape). Gap in seconds, exact integer micros arithmetic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        ev.withColumn("_gap", gap_us)
        .groupBy("user_id")
        .agg(
            F.max("_gap").alias("max_gap_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


TS_GAPS_SQL = """
SELECT user_id, MAX(gap) AS max_gap_us, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
GROUP BY user_id
"""


def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + forward-fill (the hypertable ``time_bucket_gapfill`` +
    ``locf`` shape): build an hour spine per user with ``sequence()``,
    left-join the hourly rollup, and carry the last observed value across
    the gaps. ``user_id < 10`` bounds the oracle result; the plan is
    per-user partitioned — the spine explode is narrow off a tiny bounds
    table and the fill window shuffles once on ``user_id`` (no global
    sort), so the shape survives a 1000-user → 100M-user scale-up.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.sum(F.col("value").cast(DEC)).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    j = spine.join(hourly, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr"),
        F.col("n").isNull().alias("is_gap"),
        F.round(F.last("v", ignorenulls=True).over(w), 4)
        .cast("double")
        .alias("filled_value"),
    )


TS_GAP_FILL_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         SUM(CAST(value AS DECIMAL(18,6))) AS v, COUNT(*) AS n
  FROM events WHERE user_id < 10 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM hourly GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
  FROM bounds
)
SELECT s.user_id,
       strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hr,
       h.n IS NULL AS is_gap,
       CAST(ROUND(LAST_VALUE(h.v IGNORE NULLS) OVER (
            PARTITION BY s.user_id ORDER BY s.hr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
         AS filled_value
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr
"""


def ts_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling aggregate per event_type over the daily
    rollup — a RANGE-framed window (``rangeBetween(-6, 0)`` over the day
    number), so missing days genuinely shrink the frame (a ROWS frame
    would silently look further back across gaps).

    Scale shape: the window runs over the ~60x-reduced daily rollup, not
    raw events, and partitions by event_type — no global sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("v"), F.count(F.lit(1)).alias("n"))
    dn = F.datediff("day", F.lit("2024-01-01"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(dn)
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.sum("v").over(w), 4).cast("double").alias("sum_7d"),
        F.sum("n").over(w).cast("bigint").alias("n_7d"),
    )


TS_MOVING_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         SUM(CAST(value AS DECIMAL(18,6))) AS v, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(ROUND(SUM(v) OVER w, 4) AS DOUBLE) AS sum_7d,
       CAST(SUM(n) OVER w AS BIGINT) AS n_7d
FROM daily
WINDOW w AS (PARTITION BY event_type
             ORDER BY datediff('day', DATE '2024-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


QUERIES = {
    "ts_rollup_ladder": ts_rollup_ladder,
    "ts_range_join": ts_range_join,
    "ts_event_gaps": ts_event_gaps,
    "ts_gap_fill": ts_gap_fill,
    "ts_moving_avg": ts_moving_avg,
}

ORACLE = {
    "ts_rollup_ladder": TS_ROLLUP_SQL,
    "ts_range_join": TS_RANGE_SQL,
    "ts_event_gaps": TS_GAPS_SQL,
    "ts_gap_fill": TS_GAP_FILL_SQL,
    "ts_moving_avg": TS_MOVING_SQL,
}


# ---------------------------------------------------------------------------
# EWMA smoothing (truncated exponentially-weighted moving average)
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.2
EWMA_K = 8  # lookback depth: weight of term K is (1-a)^K ~ 0.17 -> truncated
# weights live in exact 1e-4 units (integers): every numerator term AND the
# renormalizing denominator are then exact bigints, and the final value is a
# SINGLE integer/integer double division — bit-identical cross-engine (a
# chained double division diverged by ~3e-14 between engines).
_EWMA_WS = [round((1.0 - EWMA_ALPHA) ** j * 10000) for j in range(EWMA_K)]


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values, truncated at a K=8 lookback: the
    smoothing signal behind rate/latency dashboards, computed without the
    sequential recurrence (which would serialize per key and, in closed
    window form, overflow ``(1-a)^-n`` on long series). With K bounded,
    each row is a fixed linear combination of its last K values —
    expressible as K window lags, all sharing ONE (user, ts)-ordered
    WindowExec, so the plan stays a single per-user sort at any scale.

    Weights ``(1-a)^j`` are Python-computed literals (quantized to exact
    1e-4 units) embedded identically in both engines; each term is
    rounded at integer resolution and summed exactly (bigint), the
    renormalizing denominator is the exact-integer weight-sum of the
    lags that exist (standard ``adjust=True`` pandas-ewm semantics,
    truncated), and the result is one integer/integer double division —
    bit-identical cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value") if j == 0 else F.lag("value", j).over(w) for j in range(EWMA_K)]
    terms = [
        F.coalesce(
            F.round(lag * F.lit(float(ws)), 0).cast("bigint"), F.lit(0)
        )
        for lag, ws in zip(lags, _EWMA_WS)
    ]
    num = terms[0]
    for t in terms[1:]:
        num = num + t
    den = F.lit(_EWMA_WS[0])
    for lag, ws in zip(lags[1:], _EWMA_WS[1:]):
        den = den + F.when(lag.isNull(), F.lit(0)).otherwise(F.lit(ws))
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
        (num.cast("double") / den.cast("double")).alias("ewma"),
    )


def _ewma_sql() -> str:
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    lags = ["value"] + [f"LAG(value, {j}) {over}" for j in range(1, EWMA_K)]
    terms = [
        f"COALESCE(CAST(ROUND(({lag}) * {float(ws)!r}) AS BIGINT), 0)"
        for lag, ws in zip(lags, _EWMA_WS)
    ]
    num = "(" + " + ".join(terms) + ")"
    den_parts = [str(_EWMA_WS[0])] + [
        f"(CASE WHEN ({lag}) IS NULL THEN 0 ELSE {ws} END)"
        for lag, ws in zip(lags[1:], _EWMA_WS[1:])
    ]
    den = "(" + " + ".join(den_parts) + ")"
    return f"""
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       value,
       CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) AS ewma
FROM events
"""


TS_EWMA_SQL = _ewma_sql()

QUERIES["ts_ewma"] = ts_ewma
ORACLE["ts_ewma"] = TS_EWMA_SQL


# ---------------------------------------------------------------------------
# M4 downsampling (Jugel et al., VLDB 2014)
# ---------------------------------------------------------------------------

_M4_BUCKET_S = 6 * 3600  # 6-hour pixel buckets


def _m4_key() -> F.Column:
    return F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )


def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling: per pixel-column time bucket, keep
    exactly the min, max, first, and last values — the four points that
    make a line chart of the bucket pixel-identical to the full series
    (Jugel et al., VLDB 2014). The standard first step before shipping a
    billion-point series to a dashboard.

    Scale shape: ONE aggregate over the (bucket) key with
    min/max/min_by/max_by — no window, no sort of the raw series;
    min_by/max_by on exact integer (ts, event_id) keys give
    deterministic first/last under ties. Output is bounded by the time
    span / bucket width, independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    bucket = (F.unix_micros("ts") / 1_000_000).cast("long") - (
        (F.unix_micros("ts") / 1_000_000).cast("long") % _M4_BUCKET_S
    )
    return (
        ev.groupBy(bucket.alias("bucket_start_s"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(v).cast("double").alias("v_min"),
            F.max(v).cast("double").alias("v_max"),
            # composite order key as a FIXED-WIDTH string: lexicographic ==
            # numeric, and DuckDB's arg_min/arg_max accept it (struct keys
            # don't bind there)
            F.min_by(v, _m4_key()).cast("double").alias("v_first"),
            F.max_by(v, _m4_key()).cast("double").alias("v_last"),
        )
        .orderBy("bucket_start_s")
    )


TS_M4_SQL = f"""
SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % {_M4_BUCKET_S})
         AS bucket_start_s,
       COUNT(*) AS n_points,
       CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v_min,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v_max,
       CAST(arg_min(CAST(value AS DECIMAL(18,6)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS v_first,
       CAST(arg_max(CAST(value AS DECIMAL(18,6)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS v_last
FROM events
GROUP BY 1 ORDER BY bucket_start_s
"""

QUERIES["ts_m4_downsample"] = ts_m4_downsample
ORACLE["ts_m4_downsample"] = TS_M4_SQL


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline
# ---------------------------------------------------------------------------

_SEASON_LAG_H = 168  # one week of hourly buckets


def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline (the M-competition floor every
    forecast model must beat): predict each hour's total as the SAME
    HOUR LAST WEEK, and score MAE/MAPE over the overlapping span — per
    event type, in exact decimals end-to-end (sums, |error|, and the
    bps-scaled MAPE all stay in DECIMAL; no float accumulates).

    Scale shape: the raw stream collapses to the (type, hour) rollup
    first (map-side combinable); the 168-step lag is ONE window over
    that bounded rollup (|types| × |hours| rows — calendar-bounded, not
    data-bounded), so the lag never touches event volume."""
    ev = load_table(spark, sf_dir, "events")
    hour = (F.unix_micros("ts") / 1_000_000).cast("long") - (
        (F.unix_micros("ts") / 1_000_000).cast("long") % 3600
    )
    hourly = ev.groupBy("event_type", hour.alias("h")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    scored = hourly.withColumn("pred", F.lag("v", _SEASON_LAG_H).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.abs(F.col("v") - F.col("pred"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(err).cast("double").alias("sum_abs_err"),
            F.sum(F.col("v")).cast("double").alias("sum_actual"),
        )
        .withColumn(
            "wape_bps",
            # explicit floor: CAST(double AS BIGINT) truncates in Spark
            # but ROUNDS in DuckDB — floor is the same function in both
            F.expr("CAST(floor(sum_abs_err * 10000 / sum_actual) AS BIGINT)"),
        )
        .orderBy("event_type")
    )


TS_SEASONAL_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 3600) AS h,
         SUM(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, v,
         LAG(v, {_SEASON_LAG_H}) OVER (PARTITION BY event_type ORDER BY h) AS pred
  FROM hourly
)
SELECT event_type,
       COUNT(*) AS n_hours,
       CAST(SUM(abs(v - pred)) AS DOUBLE) AS sum_abs_err,
       CAST(SUM(v) AS DOUBLE) AS sum_actual,
       CAST(floor(CAST(SUM(abs(v - pred)) AS DOUBLE) * 10000
            / CAST(SUM(v) AS DOUBLE)) AS BIGINT) AS wape_bps
FROM scored WHERE pred IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""

QUERIES["ts_seasonal_naive"] = ts_seasonal_naive
ORACLE["ts_seasonal_naive"] = TS_SEASONAL_SQL


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (exact integer formulation)
# ---------------------------------------------------------------------------


def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over the daily order-count series: the day t
    maximizing |C_t/N − t/n| — the normalized cumulative-sum deviation
    from a uniform-in-time arrival rate (Page 1954's CUSUM reduced to
    its scale-free single-changepoint estimator; the same statistic a
    curation pipeline uses to spot "the crawl mix changed on day X").

    Exactness: the argmax is taken over ``dev_t = n·C_t − t·N`` — pure
    BIGINT algebra (n days, C_t cumulative count, t day index, N total),
    so the selected day is bit-determined; only the final reported
    statistic divides (``dev/(n·N) = C_t/N − t/n``), with identical
    operand expressions in both engines.

    Scale shape: one daily rollup (calendar-bounded, map-side
    combinable), one single-partition window over ~2.4K calendar days
    (value-domain-bounded — the allowlisted cumulative-window class),
    1-row output. The fact table crosses the wire once, pre-aggregated.
    """
    # undated orders are off the timeline (NULL day sorts FIRST in Spark's
    # window order, LAST in DuckDB's — section 28)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("o_orderdate")
    cum = daily.select(
        F.col("o_orderdate"),
        F.row_number().over(w).alias("t"),
        F.sum("c").over(w).alias("cumc"),
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    dev = F.col("n_days") * F.col("cumc") - F.col("t") * F.col("n_total")
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("changepoint_date"),
            F.col("t").cast("long").alias("day_idx"),
            "n_days",
            "n_total",
            F.abs(dev).cast("long").alias("abs_dev"),
            F.round(
                F.abs(dev).cast("double")
                / (F.col("n_days").cast("double") * F.col("n_total").cast("double")),
                8,
            ).alias("cusum_stat"),
        )
        .orderBy(F.col("abs_dev").desc(), F.col("changepoint_date").asc())
        .limit(1)
    )


TS_CUSUM_SQL = """
WITH daily AS (
  SELECT o_orderdate, COUNT(*) AS c FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
), cum AS (
  SELECT o_orderdate,
         ROW_NUMBER() OVER (ORDER BY o_orderdate) AS t,
         SUM(c) OVER (ORDER BY o_orderdate
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM daily
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily
)
SELECT strftime(o_orderdate, '%Y-%m-%d') AS changepoint_date,
       CAST(t AS BIGINT) AS day_idx,
       n_days, n_total,
       CAST(abs(n_days * cumc - t * n_total) AS BIGINT) AS abs_dev,
       ROUND(CAST(abs(n_days * cumc - t * n_total) AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(n_total AS DOUBLE)), 8) AS cusum_stat
FROM cum, tot
ORDER BY abs_dev DESC, changepoint_date ASC
LIMIT 1
"""

QUERIES["ts_cusum_changepoint"] = ts_cusum_changepoint
ORACLE["ts_cusum_changepoint"] = TS_CUSUM_SQL


# ---------------------------------------------------------------------------
# Autocorrelation (ACF at fixed lags)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-count series at lags 1 and 7 —
    the two numbers that say "is there day-to-day momentum, and is there
    a weekly cycle" before anyone fits a seasonal model (the ACF
    complement to ``e_seasonality_strength``'s η² and
    ``ts_seasonal_naive``'s forecast check).

    Pearson r over the (c_t, c_{t−lag}) pairs:
    ``r = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²))`` — every
    power sum an exact BIGINT over the lag-joined daily rollup; floats
    enter only in the final quotient/sqrt of bit-identical operands.

    Scale shape: one daily rollup (calendar-bounded), one single-
    partition lag window over ~2.4K days (the allowlisted bounded-domain
    class), a 2-row output (one per lag).
    """
    # undated orders are off the timeline (NULL day sorts FIRST in Spark's
    # window order, LAST in DuckDB's — section 28)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("o_orderdate")
    lagged = daily.select(
        F.col("c").alias("x"),
        *[F.lag("c", lag).over(w).alias(f"y{lag}") for lag in _ACF_LAGS],
    )
    parts = []
    for lag in _ACF_LAGS:
        y = F.col(f"y{lag}")
        agg = lagged.filter(y.isNotNull()).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(y).cast("long").alias("sy"),
            F.sum(F.col("x") * y).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(y * y).cast("long").alias("syy"),
        )
        num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        den = F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        )
        parts.append(
            agg.select(
                F.lit(lag).cast("int").alias("lag"),
                F.col("n").alias("n_pairs"),
                F.round(num / den, 6).alias("acf"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _acf_sql() -> str:
    arms = []
    for lag in _ACF_LAGS:
        arms.append(f"""
SELECT CAST({lag} AS INT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                    * CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)),
             6) AS acf
FROM (SELECT c AS x,
             LAG(c, {lag}) OVER (ORDER BY o_orderdate) AS y
      FROM (SELECT o_orderdate, COUNT(*) AS c FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1))
WHERE y IS NOT NULL""")
    return " UNION ALL ".join(arms)


QUERIES["ts_autocorrelation"] = ts_autocorrelation
ORACLE["ts_autocorrelation"] = _acf_sql()


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957) over the
    daily order-count series — the level+trend forecaster one step up
    from ``ts_ewma``: l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, initialized l=y₁, b=y₂−y₁,
    folded over y₃..y_n; emits the final state and the 7-day-ahead
    linear forecast l + 7b.

    Cross-engine float parity by construction: the recursion is a
    strictly sequential left fold — Spark runs it as ONE
    ``aggregate()`` over the date-sorted array, DuckDB as a recursive
    CTE — with the identical inlined expression tree and identical
    float literals (0.3/0.7/0.1/0.9, never 1−α), so every intermediate
    double is bit-equal.

    Scale note: the fold is over the DAILY rollup (bounded by calendar
    days, not rows) after a map-side-combinable count — the same
    bounded-rollup-then-scalar shape as the statistics layer."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("d", "y"))),
        lambda s: s["y"].cast("double"),
    )
    g = daily.agg(arr.alias("ys"))
    y1 = F.element_at("ys", 1)
    y2 = F.element_at("ys", 2)
    tail = F.slice(F.col("ys"), 3, F.greatest(F.size("ys") - 2, F.lit(0)))
    A, NA, B, NB = F.lit(0.3), F.lit(0.7), F.lit(0.1), F.lit(0.9)

    def _step(acc, y):
        l_new = A * y + NA * (acc["l"] + acc["b"])
        b_new = B * ((A * y + NA * (acc["l"] + acc["b"])) - acc["l"]) + NB * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    state = F.aggregate(
        tail,
        F.struct(y1.alias("l"), (y2 - y1).alias("b")),
        _step,
    )
    return g.select(
        F.size("ys").cast("long").alias("n_days"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["b"], 6).alias("trend"),
        F.round(state["l"] + F.lit(7.0) * state["b"], 6).alias("forecast_7d"),
    )


TS_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, CAST(y AS DOUBLE) AS y
  FROM (SELECT o_orderdate AS d, COUNT(*) AS y FROM orders
        WHERE o_orderdate IS NOT NULL GROUP BY 1)
), nn AS (SELECT MAX(i) AS n FROM daily),
holt(t, l, b) AS (
  SELECT 2,
         (SELECT y FROM daily WHERE i = 1),
         (SELECT y FROM daily WHERE i = 2) - (SELECT y FROM daily WHERE i = 1)
  UNION ALL
  SELECT h.t + 1,
         0.3 * d.y + 0.7 * (h.l + h.b),
         0.1 * ((0.3 * d.y + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b
  FROM holt h JOIN daily d ON d.i = h.t + 1, nn WHERE h.t < nn.n
)
SELECT CAST(nn.n AS BIGINT) AS n_days,
       ROUND(l, 6) AS level,
       ROUND(b, 6) AS trend,
       ROUND(l + 7.0 * b, 6) AS forecast_7d
FROM holt, nn WHERE t = nn.n
"""

QUERIES["ts_holt_linear"] = ts_holt_linear
ORACLE["ts_holt_linear"] = TS_HOLT_SQL
