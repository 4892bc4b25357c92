"""Metrics persistence + report analytics (reference ``framework/metrics/``).

Reproduces the three-level Run/Stage/Operator parquet layout
(``framework/metrics/writer.py:28-82``) from the compiler's observe()
counters, and the report-layer aggregate queries (funnel, bottleneck —
``framework/metrics/reporter.py:689-701,762-773,962``) as plain Spark SQL
over those tables.

Divergence note (documented, SURVEY §2.6): per-record latency percentiles
(p50/p95/p99 over a 10k reservoir, ``operator.py:160-168``) have no
meaning in a whole-stage-codegen'd plan — operators aren't timed
per-record. The latency columns are instead filled with TASK-duration
distributions from Spark's app status store (the same data the UI's
task-summary quantiles show), over the stages the run itself created:
min/max and avg are exact over completed tasks, p50/p95/p99 are
task-count-weighted means of per-stage quantiles.
If the status store is unreachable the columns fall back to NULL; the
schema is unchanged either way.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector, next_stage_id


def task_latency_distributions(
    spark: SparkSession, since_stage: int | None = None
) -> dict[str, float] | None:
    """Task-duration distribution (seconds) across completed stages, read
    from ``AppStatusStore`` — the listener-fed store behind the UI/REST
    ``taskSummary`` quantiles. Pure driver-side metadata reads; no job is
    triggered. ``since_stage`` (a ``MetricsCollector.first_stage``) keeps
    only the stages created from that id on, so a run's columns hold its
    own tasks and the read costs O(run stages), not O(session stages);
    None reads every stage of the session. None when no stage has
    completed task metrics."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        quants = sc._gateway.new_array(jvm.double, 5)
        for i, q in enumerate((0.0, 0.5, 0.95, 0.99, 1.0)):
            quants[i] = q
        per_stage: list[tuple[int, list[float], float]] = []
        for sid in range(since_stage or 0, next_stage_id(spark)):
            try:
                attempts = store.stageData(sid, False, empty, False, quants)
            except Py4JJavaError:  # not (yet) in the store: never posted, or evicted
                continue
            for a in range(attempts.size()):
                s = attempts.apply(a)
                opt = store.taskSummary(sid, s.attemptId(), quants)
                n = int(s.numCompleteTasks())
                if not opt.isDefined() or n <= 0:
                    continue
                d = opt.get().duration()
                qs = [float(d.apply(j)) for j in range(d.size())]
                per_stage.append((n, qs, float(s.executorRunTime())))
        if not per_stage:
            return None
        total_tasks = sum(n for n, _, _ in per_stage)
        wmean = lambda idx: sum(n * qs[idx] for n, qs, _ in per_stage) / total_tasks
        ms = 1e-3  # store reports milliseconds
        return {
            "min": min(qs[0] for _, qs, _ in per_stage) * ms,
            "p50": wmean(1) * ms,
            "p95": wmean(2) * ms,
            "p99": wmean(3) * ms,
            "max": max(qs[4] for _, qs, _ in per_stage) * ms,
            "avg": sum(rt for _, _, rt in per_stage) / total_tasks * ms,
        }
    except Exception:
        return None


def operator_metrics_df(
    collector: MetricsCollector, latencies: dict[str, float] | None | bool = True
) -> DataFrame:
    """operators_*.parquet shape (metrics/writer.py:28-54).

    ``latencies``: True (default) reads the task-duration distribution of
    the run's own stages from the status store; a dict injects one;
    None/False leaves the columns NULL (the pre-listener behavior)."""
    if latencies is True:
        latencies = task_latency_distributions(collector.spark, collector.first_stage)
    lat = latencies or {}

    def _lat(key: str):
        v = lat.get(key)
        return F.lit(v).cast("double").alias(f"{key}_latency")

    base = collector.to_dataframe()
    return base.select(
        "run_id",
        "stage_name",
        "operator_name",
        F.lit(None).cast("int").alias("worker_id"),
        F.current_timestamp().alias("timestamp"),
        "input_records",
        "output_records",
        "pass_rate",
        "total_time",
        _lat("avg"),
        _lat("min"),
        _lat("max"),
        _lat("p50"),
        _lat("p95"),
        _lat("p99"),
        "throughput",
        F.lit(0).cast("long").alias("error_count"),
        F.lit("{}").alias("custom_metrics"),
    )


def stage_metrics_df(operators: DataFrame) -> DataFrame:
    """stages_*.parquet rollup (metrics/writer.py:56-71; aggregator
    semantics ``executor.py:760-846``: stage input = first op input,
    output = last op output, bottleneck = max time)."""
    w_in = (
        operators.groupBy("run_id", "stage_name")
        .agg(
            F.count(F.lit(1)).alias("num_operators"),
            F.min(F.struct("timestamp", "input_records")).alias("_first"),
            F.max(F.struct("timestamp", "output_records")).alias("_last"),
            F.max("total_time").alias("total_time"),
            F.min("throughput").alias("min_throughput"),
            F.max("throughput").alias("max_throughput"),
            F.avg("throughput").alias("avg_throughput"),
            F.sum("error_count").alias("error_count"),
            F.first("input_records").alias("input_records"),
            F.last("output_records").alias("output_records"),
        )
        .drop("_first", "_last")
    )
    return w_in.withColumn(
        "pass_rate",
        F.when(F.col("input_records") > 0, F.col("output_records") / F.col("input_records")).otherwise(1.0),
    )


def run_metrics_df(operators: DataFrame, stages: DataFrame, config_json: str = "{}") -> DataFrame:
    """runs_*.parquet rollup (metrics/writer.py:73-82)."""
    return (
        stages.groupBy("run_id")
        .agg(
            F.count(F.lit(1)).alias("num_stages"),
            F.first("input_records").alias("total_input_records"),
            F.last("output_records").alias("total_output_records"),
            F.max("total_time").alias("duration"),
            F.avg("avg_throughput").alias("avg_throughput"),
            F.sum("error_count").alias("total_errors"),
        )
        .withColumn(
            "overall_pass_rate",
            F.when(
                F.col("total_input_records") > 0,
                F.col("total_output_records") / F.col("total_input_records"),
            ).otherwise(1.0),
        )
        .withColumn("config", F.lit(config_json))
    )


def write_metrics(collector: MetricsCollector, out_dir: str, config_json: str = "{}") -> None:
    """Write the three parquet tables (suffix layout mirrors
    ``metrics/writer.py``: operators_/stages_/runs_)."""
    ops = operator_metrics_df(collector)
    ops.write.mode("append").parquet(f"{out_dir}/operators")
    st = stage_metrics_df(ops)
    st.write.mode("append").parquet(f"{out_dir}/stages")
    run_metrics_df(ops, st, config_json).write.mode("append").parquet(f"{out_dir}/runs")


# ---------------------------------------------------------------------------
# Report queries (reporter.py analytics as Spark SQL) — A3
# ---------------------------------------------------------------------------


def funnel_report(operators: DataFrame) -> DataFrame:
    """Funnel per (stage, operator): input/output sums + mean pass rate
    (``reporter.py:689-701``)."""
    return operators.groupBy("stage_name", "operator_name").agg(
        F.sum("input_records").alias("total_input"),
        F.sum("output_records").alias("total_output"),
        F.avg("pass_rate").alias("mean_pass_rate"),
        F.min("timestamp").alias("first_seen"),
    )


def bottleneck_report(operators: DataFrame) -> DataFrame:
    """Slowest operators by mean throughput (``reporter.py:962``)."""
    return (
        operators.groupBy("operator_name")
        .agg(
            F.avg("throughput").alias("mean_throughput"),
            F.avg("total_time").alias("mean_time"),
        )
        .orderBy(F.col("mean_throughput").asc_nulls_last())
    )
