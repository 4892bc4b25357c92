"""Metrics persistence + report analytics (reference ``framework/metrics/``).

Reproduces the three-level Run/Stage/Operator parquet layout
(``framework/metrics/writer.py:28-82``) from the compiler's observe()
counters, and the report-layer aggregate queries (funnel, bottleneck —
``framework/metrics/reporter.py:689-701,762-773,962``) as plain Spark SQL
over those tables.

The three tables are a handful of rows each, so they are built and rolled
up as Python rows on the driver and written by pyarrow, as the reference
does (``pa.Table.from_pylist``): writing a run's metrics launches no Spark
job. The ``*_metrics_df`` functions are ``LocalRelation`` views over the
same rows.

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

import operator
import os
import uuid
from collections import namedtuple
from collections.abc import Iterable
from datetime import datetime, timezone
from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector, next_stage_id
from webscale_multimodal_datapipeline_spark.session import arrow_table, local_frame


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


def _schema(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


_STR, _INT, _LONG, _DBL = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()

# operators_*.parquet (metrics/writer.py:28-54)
OPERATOR_SCHEMA = _schema(
    ("run_id", _STR), ("stage_name", _STR), ("operator_name", _STR),
    ("worker_id", _INT), ("timestamp", T.TimestampType()),
    ("input_records", _LONG), ("output_records", _LONG),
    ("pass_rate", _DBL), ("total_time", _DBL),
    ("avg_latency", _DBL), ("min_latency", _DBL), ("max_latency", _DBL),
    ("p50_latency", _DBL), ("p95_latency", _DBL), ("p99_latency", _DBL),
    ("throughput", _DBL), ("error_count", _LONG), ("custom_metrics", _STR),
)
# stages_*.parquet (metrics/writer.py:56-71)
STAGE_SCHEMA = _schema(
    ("run_id", _STR), ("stage_name", _STR), ("num_operators", _LONG),
    ("total_time", _DBL), ("min_throughput", _DBL), ("max_throughput", _DBL),
    ("avg_throughput", _DBL), ("error_count", _LONG),
    ("input_records", _LONG), ("output_records", _LONG), ("pass_rate", _DBL),
)
# runs_*.parquet (metrics/writer.py:73-82)
RUN_SCHEMA = _schema(
    ("run_id", _STR), ("num_stages", _LONG),
    ("total_input_records", _LONG), ("total_output_records", _LONG),
    ("duration", _DBL), ("avg_throughput", _DBL), ("total_errors", _LONG),
    ("overall_pass_rate", _DBL), ("config", _STR),
)
OperatorRow = namedtuple("OperatorRow", OPERATOR_SCHEMA.fieldNames())
StageRow = namedtuple("StageRow", STAGE_SCHEMA.fieldNames())
RunRow = namedtuple("RunRow", RUN_SCHEMA.fieldNames())


def operator_rows(
    collector: MetricsCollector, latencies: dict[str, float] | None | bool = True
) -> list[OperatorRow]:
    """The operators table as driver-side rows, from one harvest.

    ``latencies``: True (default) reads the task-duration distribution of
    the run's own stages from the status store; a dict injects one;
    None/False leaves the columns NULL (the pre-listener behavior). The
    timestamp is one UTC instant per call, as ``current_timestamp()`` is
    one per query."""
    if latencies is True:
        latencies = task_latency_distributions(collector.spark, collector.first_stage)
    lat = latencies or {}
    lat_cols = tuple(lat.get(k) for k in ("avg", "min", "max", "p50", "p95", "p99"))
    now = datetime.now(timezone.utc)
    return [
        OperatorRow(
            run_id, stage, op, None, now, n_in, n_out, rate, total, *lat_cols, tput, 0, "{}"
        )
        for run_id, stage, op, n_in, n_out, rate, total, tput in collector.timed_rows()
    ]


def _pass_rate(n_in: int | None, n_out: int | None) -> float | None:
    # when(input > 0, output / input).otherwise(1.0)
    if n_in is None or n_in <= 0:
        return 1.0
    return None if n_out is None else n_out / n_in


def _mean(values: list[float]) -> float:
    # left-to-right running sum, the order Spark's avg() adds in
    return reduce(operator.add, values, 0.0) / len(values)


def _groups(rows: Iterable, key) -> list[list]:
    """Rows grouped by ``key``, groups and their members in row order."""
    out: dict = {}
    for r in rows:
        out.setdefault(key(r), []).append(r)
    return list(out.values())


def stage_rows(op_rows: Iterable) -> list[StageRow]:
    """Stage rollup of operator rows (aggregator semantics
    ``executor.py:760-846``): per (run, stage) in row order, input = the
    first operator's input, output = the last one's output, total time =
    the max (the bottleneck), throughput min/max/mean, errors summed."""
    out = []
    for ops in _groups(op_rows, lambda r: (r.run_id, r.stage_name)):
        tput = [o.throughput for o in ops]
        n_in, n_out = ops[0].input_records, ops[-1].output_records
        out.append(
            StageRow(
                ops[0].run_id, ops[0].stage_name, len(ops),
                max(o.total_time for o in ops), min(tput), max(tput), _mean(tput),
                sum(o.error_count for o in ops), n_in, n_out, _pass_rate(n_in, n_out),
            )
        )
    return out


def run_rows(st_rows: Iterable, config_json: str = "{}") -> list[RunRow]:
    """Run rollup of stage rows: per run in row order, input = the first
    stage's input, output = the last one's output, duration = the max
    stage time, throughput = the mean of the stage means."""
    out = []
    for st in _groups(st_rows, lambda r: r.run_id):
        n_in, n_out = st[0].input_records, st[-1].output_records
        out.append(
            RunRow(
                st[0].run_id, len(st), n_in, n_out, max(s.total_time for s in st),
                _mean([s.avg_throughput for s in st]), sum(s.error_count for s in st),
                _pass_rate(n_in, n_out), config_json,
            )
        )
    return out


def operator_metrics_df(
    collector: MetricsCollector, latencies: dict[str, float] | None | bool = True
) -> DataFrame:
    """The operators table (:func:`operator_rows`) as a DataFrame."""
    return local_frame(collector.spark, operator_rows(collector, latencies), OPERATOR_SCHEMA)


def stage_metrics_df(operators: DataFrame) -> DataFrame:
    """The stages table (:func:`stage_rows`) over an operators table."""
    return local_frame(operators.sparkSession, stage_rows(operators.collect()), STAGE_SCHEMA)


def run_metrics_df(operators: DataFrame, stages: DataFrame, config_json: str = "{}") -> DataFrame:
    """The runs table (:func:`run_rows`) over a stages table."""
    return local_frame(stages.sparkSession, run_rows(stages.collect(), config_json), RUN_SCHEMA)


def _append_part(fs, directory: str, table) -> None:
    """Add ``table`` to a parquet directory as one new part file. It is
    written under a ``_`` name, which Spark readers skip, and renamed into
    place: a crash never leaves a half-written part visible."""
    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    fs.create_dir(directory, recursive=True)
    pq.write_table(table, f"{directory}/_{name}", filesystem=fs, compression="snappy")
    fs.move(f"{directory}/_{name}", f"{directory}/{name}")


def write_metrics(collector: MetricsCollector, out_dir: str, config_json: str = "{}") -> None:
    """Append the three parquet tables under ``out_dir`` (suffix layout
    mirrors ``metrics/writer.py``: operators_/stages_/runs_). The rows are
    built on the driver and written by pyarrow, so no Spark job runs;
    ``out_dir`` is a local path or a URI pyarrow can open."""
    from pyarrow import fs as pafs

    ops = operator_rows(collector)
    stages = stage_rows(ops)
    fs, root = pafs.FileSystem.from_uri(out_dir if "://" in out_dir else os.path.abspath(out_dir))
    for name, rows, schema in (
        ("operators", ops, OPERATOR_SCHEMA),
        ("stages", stages, STAGE_SCHEMA),
        ("runs", run_rows(stages, config_json), RUN_SCHEMA),
    ):
        _append_part(fs, f"{root.rstrip('/')}/{name}", arrow_table(rows, schema))


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
