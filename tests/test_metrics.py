"""Metrics round-trip tests (the reference's metrics test shape,
``tests/test_metrics.py:21-324``: collect → write → read back → assert)."""

from __future__ import annotations

from webscale_multimodal_datapipeline_spark import metrics as M
from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline

CFG = {
    "data_loader": {"table": "documents"},
    "stages": [
        {
            "name": "curate",
            "operators": [
                {"type": "text_length_filter", "params": {"min_length": 100, "max_length": 450}},
                {"type": "text_stats_refiner"},
            ],
        }
    ],
}


def test_metrics_parquet_roundtrip(spark, sf_dir, tmp_path):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path), config_json='{"k": 1}')

    ops = spark.read.parquet(str(tmp_path / "operators"))
    expected_cols = {
        "run_id", "stage_name", "operator_name", "worker_id", "timestamp",
        "input_records", "output_records", "pass_rate", "total_time",
        "avg_latency", "min_latency", "max_latency", "p50_latency",
        "p95_latency", "p99_latency", "throughput", "error_count",
        "custom_metrics",
    }
    assert set(ops.columns) == expected_cols
    assert ops.count() == 3  # source + 2 operators

    st = spark.read.parquet(str(tmp_path / "stages"))
    stages = {r.stage_name: r for r in st.collect()}
    assert set(stages) == {"source", "curate"}
    assert stages["curate"].num_operators == 2
    assert 0 < stages["curate"].pass_rate < 1

    runs = spark.read.parquet(str(tmp_path / "runs"))
    run = runs.first()
    assert run.num_stages == 2
    assert run.total_input_records == 500
    assert run.config == '{"k": 1}'
    assert 0 < run.overall_pass_rate < 1


def test_funnel_and_bottleneck_reports(spark, sf_dir):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    ops = M.operator_metrics_df(res.metrics)
    fun = {r.operator_name: r for r in M.funnel_report(ops).collect()}
    assert fun["text_length_filter"].total_input == 500
    assert fun["text_length_filter"].total_output < 500
    bn = M.bottleneck_report(ops).collect()
    assert len(bn) == 3


def test_html_report_render_and_cli(spark, sf_dir, tmp_path):
    """Report layer: funnel/stages/bottleneck sections render from the
    operators metrics table (reference reporter.py HTML output, sans
    plotly), via both the library call and the CLI subcommand."""
    from webscale_multimodal_datapipeline_spark import report as R

    res = compile_pipeline({**CFG, "collect_rejected": True}).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path / "m"))

    ops = spark.read.parquet(str(tmp_path / "m" / "operators"))
    out = R.write_html_report(
        ops,
        str(tmp_path / "report.html"),
        rejected=res.rejected,
        debug_samples_per_operator=5,
    )
    html_text = open(out).read()
    for needle in (
        "<h2>Funnel</h2>",
        "<h2>Bottlenecks</h2>",
        "<h2>Stages</h2>",
        "<h2>Run summary</h2>",
        "<h2>Rejection flow</h2>",
        "<h2>Waterfall</h2>",
        "<h2>Rejected samples (debug)</h2>",
        "<h2>Dataflow (Sankey)</h2>",
        "<h2>Stage timeline</h2>",
        "<h2>Latency heatmap</h2>",
        "text_length_filter",
        "text_stats_refiner",
        "curate",
    ):
        assert needle in html_text, needle
    # the two SVG sections actually rendered vector content
    assert html_text.count("<svg") >= 2 and "rect" in html_text

    from webscale_multimodal_datapipeline_spark.cli import main as cli_main

    rc = cli_main(
        ["report", "--metrics-dir", str(tmp_path / "m"), "--out", str(tmp_path / "r2.html")]
    )
    assert rc == 0
    assert "<h2>Funnel</h2>" in open(tmp_path / "r2.html").read()


def test_html_report_expectations_section(spark, sf_dir, tmp_path):
    """Round-4: the declarative-expectations report (quality.evaluate)
    renders as its own section with per-constraint violation counts and
    the warn/drop (report/enforce) outcome per constraint."""
    from webscale_multimodal_datapipeline_spark import report as R
    from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline as cp

    yml = """
data_loader:
  table: documents
stages:
  - name: score
    operators:
      - type: text_stats_refiner
expectations:
  - type: not_null
    params: {col: doc_id}
  - type: in_set
    params: {col: lang, values: [en, es, fr, de]}
    action: enforce
"""
    res = cp(yml).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path / "m"))
    ops = spark.read.parquet(str(tmp_path / "m" / "operators"))
    out = R.write_html_report(
        ops,
        str(tmp_path / "report.html"),
        expectations=res.expectations_report,
        enforced_expectations=res.enforced_expectations,
    )
    html_text = open(out).read()
    assert "<h2>Data-quality expectations</h2>" in html_text
    assert "not_null(doc_id)" in html_text and "in_set(lang)" in html_text
    assert "enforce (rows dropped)" in html_text  # the in_set constraint
    assert "VIOLATIONS" in html_text  # corpus contains zh docs
    assert html_text.index("not_null(doc_id)") > html_text.index(
        "<h2>Data-quality expectations</h2>"
    )


def test_task_latency_distributions_populate_columns(spark, sf_dir):
    """A1 latency approximation: after an action has run, the status-store
    task-duration distribution fills the latency columns (schema unchanged;
    NULL fallback covered by passing latencies=None)."""
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()

    lat = M.task_latency_distributions(spark)
    assert lat is not None
    assert lat["min"] <= lat["p50"] <= lat["p95"] <= lat["p99"] <= lat["max"]
    assert lat["avg"] > 0

    row = M.operator_metrics_df(res.metrics).first()
    assert row.p50_latency is not None and row.p50_latency > 0
    assert row.min_latency <= row.max_latency

    null_row = M.operator_metrics_df(res.metrics, latencies=None).first()
    assert null_row.p50_latency is None


def _leaf_names(df) -> set[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


def test_metrics_tables_are_local_relations(spark):
    """The driver-built metrics rows are a one-partition Arrow
    LocalRelation, and so are the three tables derived from them: writing
    metrics launches no Python-worker scan and no shuffle. Column names
    and types are unchanged."""
    from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector

    mc = MetricsCollector(spark, "local-run")
    df = mc.instrument(spark.range(10), "source", "source")
    mc.instrument(df.filter("id < 4"), "curate", "keep_small").count()
    base = mc.to_dataframe()
    assert _leaf_names(base) == {"LocalRelation"}
    assert base.dtypes == [
        ("run_id", "string"), ("stage_name", "string"), ("operator_name", "string"),
        ("input_records", "bigint"), ("output_records", "bigint"),
        ("pass_rate", "double"), ("total_time", "double"), ("throughput", "double"),
    ]
    rows = {r.operator_name: r for r in base.collect()}
    assert (rows["keep_small"].input_records, rows["keep_small"].output_records) == (10, 4)
    assert rows["keep_small"].pass_rate == 0.4
    ops = M.operator_metrics_df(mc, latencies={"p50": 0.5})
    assert ops.dtypes == [
        ("run_id", "string"), ("stage_name", "string"), ("operator_name", "string"),
        ("worker_id", "int"), ("timestamp", "timestamp"),
        ("input_records", "bigint"), ("output_records", "bigint"),
        ("pass_rate", "double"), ("total_time", "double"),
        ("avg_latency", "double"), ("min_latency", "double"), ("max_latency", "double"),
        ("p50_latency", "double"), ("p95_latency", "double"), ("p99_latency", "double"),
        ("throughput", "double"), ("error_count", "bigint"), ("custom_metrics", "string"),
    ]
    stages = M.stage_metrics_df(ops)
    for t in (ops, stages, M.run_metrics_df(ops, stages)):
        assert _leaf_names(t) == {"LocalRelation"}
        # one partition: the rollups group it without a shuffle
        assert "Exchange" not in t._jdf.queryExecution().executedPlan().toString()


def test_task_latency_distributions_scoped_to_run(spark):
    """Each run's latency columns come from the stages it created: a slow
    task in an earlier run of the same session does not leak into a later
    run's distribution."""
    from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector

    bus = spark.sparkContext._jsc.sc().listenerBus()
    first = MetricsCollector(spark, "slow-run")
    spark.range(1, numPartitions=1).selectExpr(
        "reflect('java.lang.Thread', 'sleep', cast(1500 as bigint)) AS s"
    ).collect()
    second = MetricsCollector(spark, "fast-run")
    spark.range(100, numPartitions=2).count()
    bus.waitUntilEmpty()
    slow = M.task_latency_distributions(spark, first.first_stage)
    fast = M.task_latency_distributions(spark, second.first_stage)
    assert slow["max"] >= 1.5
    assert fast is not None and fast["max"] < 1.5
    assert second.first_stage > first.first_stage
    everything = M.task_latency_distributions(spark)
    assert everything["max"] >= slow["max"]


OPERATOR_DTYPES = [
    ("run_id", "string"), ("stage_name", "string"), ("operator_name", "string"),
    ("worker_id", "int"), ("timestamp", "timestamp"),
    ("input_records", "bigint"), ("output_records", "bigint"),
    ("pass_rate", "double"), ("total_time", "double"),
    ("avg_latency", "double"), ("min_latency", "double"), ("max_latency", "double"),
    ("p50_latency", "double"), ("p95_latency", "double"), ("p99_latency", "double"),
    ("throughput", "double"), ("error_count", "bigint"), ("custom_metrics", "string"),
]
STAGE_DTYPES = [
    ("run_id", "string"), ("stage_name", "string"), ("num_operators", "bigint"),
    ("total_time", "double"), ("min_throughput", "double"), ("max_throughput", "double"),
    ("avg_throughput", "double"), ("error_count", "bigint"),
    ("input_records", "bigint"), ("output_records", "bigint"), ("pass_rate", "double"),
]
RUN_DTYPES = [
    ("run_id", "string"), ("num_stages", "bigint"),
    ("total_input_records", "bigint"), ("total_output_records", "bigint"),
    ("duration", "double"), ("avg_throughput", "double"), ("total_errors", "bigint"),
    ("overall_pass_rate", "double"), ("config", "string"),
]


def _small_run(spark, run_id="small-run"):
    from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector

    mc = MetricsCollector(spark, run_id)
    df = mc.instrument(spark.range(10), "source", "source")
    df = mc.instrument(df.filter("id < 6"), "curate", "keep_small")
    mc.instrument(df.filter("id % 2 = 0"), "curate", "keep_even").count()
    return mc


def test_write_metrics_launches_no_spark_job(spark, tmp_path):
    """The three tables are written by pyarrow from driver rows: no job
    runs between the pipeline's action and the end of the write."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    mc = _small_run(spark)
    sc.setJobGroup("metrics-write", "write_metrics")
    try:
        before = set(tracker.getJobIdsForGroup("metrics-write"))
        M.write_metrics(mc, str(tmp_path / "m"))
        assert set(tracker.getJobIdsForGroup("metrics-write")) == before
        # the probe sees jobs of this group: a Spark action is counted
        spark.range(3).count()
        assert set(tracker.getJobIdsForGroup("metrics-write")) > before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ops = spark.read.parquet(str(tmp_path / "m" / "operators"))
    assert sorted((r.operator_name, r.input_records, r.output_records) for r in ops.collect()) == [
        ("keep_even", 6, 3), ("keep_small", 10, 6), ("source", 10, 10),
    ]


def test_written_tables_read_back_with_pinned_dtypes(spark, tmp_path):
    """Spark reads the pyarrow-written parts with the column names, order
    and types the Spark-written tables had, and only the part files are
    visible (no leftover ``_``-prefixed temporaries)."""
    import os

    mc = _small_run(spark)
    M.write_metrics(mc, f"file://{tmp_path}/m", config_json='{"k": 2}')
    for name, dtypes in (
        ("operators", OPERATOR_DTYPES), ("stages", STAGE_DTYPES), ("runs", RUN_DTYPES),
    ):
        files = os.listdir(tmp_path / "m" / name)
        assert len(files) == 1 and files[0].startswith("part-"), files
        assert files[0].endswith(".snappy.parquet")
        assert spark.read.parquet(str(tmp_path / "m" / name)).dtypes == dtypes
    run = spark.read.parquet(str(tmp_path / "m" / "runs")).first()
    assert (run.num_stages, run.total_input_records, run.total_output_records) == (2, 10, 3)
    assert run.overall_pass_rate == 0.3 and run.config == '{"k": 2}'
    ops = spark.read.parquet(str(tmp_path / "m" / "operators")).collect()
    assert len({r.timestamp for r in ops}) == 1 and ops[0].timestamp is not None


def _op(run, stage, name, n_in, n_out, total, tput, errors):
    return M.OperatorRow(
        run, stage, name, None, None, n_in, n_out, n_out / n_in if n_in else 1.0, total,
        None, None, None, None, None, None, tput, errors, "{}",
    )


# 2 runs x 2 stages x 2 operators, the runs' rows interleaved
ROLLUP_OPS = [
    _op("r1", "a", "a1", 10, 8, 1.0, 2.0, 0),
    _op("r2", "a", "a1", 0, 0, 0.5, 0.0, 0),
    _op("r1", "a", "a2", 8, 6, 3.0, 4.0, 1),
    _op("r2", "a", "a2", 0, 0, 0.25, 1.0, 0),
    _op("r1", "b", "b1", 6, 6, 2.0, 1.0, 0),
    _op("r1", "b", "b2", 6, 3, 5.0, 7.0, 2),
    _op("r2", "b", "b1", 0, 0, 0.75, 2.0, 3),
    _op("r2", "b", "b2", 0, 0, 0.5, 4.0, 0),
]
ROLLUP_STAGES = [
    # run, stage, ops, max time, min/max/avg throughput, errors, first in, last out, rate
    ("r1", "a", 2, 3.0, 2.0, 4.0, 3.0, 1, 10, 6, 0.6),
    ("r2", "a", 2, 0.5, 0.0, 1.0, 0.5, 0, 0, 0, 1.0),
    ("r1", "b", 2, 5.0, 1.0, 7.0, 4.0, 2, 6, 3, 0.5),
    ("r2", "b", 2, 0.75, 2.0, 4.0, 3.0, 3, 0, 0, 1.0),
]
ROLLUP_RUNS = [
    # run, stages, first stage in, last stage out, max time, mean stage avg, errors, rate
    ("r1", 2, 10, 3, 5.0, 3.5, 3, 0.3, "{}"),
    ("r2", 2, 0, 0, 0.75, 1.75, 3, 1.0, "{}"),
]


def test_python_rollups_match_hand_computed_values(spark):
    """Stage input = first operator's input, output = last operator's
    output (row order), time = max, throughput min/max/avg, errors summed;
    the run rolls stages up the same way, with the zero-input pass-rate
    guard. The DataFrame views give the same rows."""
    from webscale_multimodal_datapipeline_spark.session import local_frame

    stages = M.stage_rows(ROLLUP_OPS)
    assert [tuple(s) for s in stages] == ROLLUP_STAGES
    assert [tuple(r) for r in M.run_rows(stages)] == ROLLUP_RUNS

    ops_df = local_frame(spark, ROLLUP_OPS, M.OPERATOR_SCHEMA)
    stages_df = M.stage_metrics_df(ops_df)
    assert [tuple(r) for r in stages_df.collect()] == ROLLUP_STAGES
    assert [tuple(r) for r in M.run_metrics_df(ops_df, stages_df).collect()] == ROLLUP_RUNS


def test_append_onto_spark_written_part_reads_as_one_table(spark, tmp_path):
    """A metrics directory written by Spark (INT96 timestamps) takes a
    pyarrow-written part (INT64 microsecond timestamps) and reads back as
    one table of both runs."""
    import os

    import pyarrow.parquet as pq

    old = _small_run(spark, "spark-run")
    ops_dir = str(tmp_path / "m" / "operators")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        M.operator_metrics_df(old).coalesce(1).write.mode("append").parquet(ops_dir)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    (spark_part,) = [f for f in os.listdir(ops_dir) if f.startswith("part-")]
    ts = pq.ParquetFile(os.path.join(ops_dir, spark_part)).schema.column(4)
    assert (ts.name, ts.physical_type) == ("timestamp", "INT96")

    M.write_metrics(_small_run(spark, "arrow-run"), str(tmp_path / "m"))
    ops = spark.read.parquet(ops_dir)
    assert ops.dtypes == OPERATOR_DTYPES
    rows = ops.collect()
    assert sorted({r.run_id for r in rows}) == ["arrow-run", "spark-run"] and len(rows) == 6
    stamps = {r.run_id: r.timestamp for r in rows}
    assert None not in stamps.values()
    assert abs((stamps["arrow-run"] - stamps["spark-run"]).total_seconds()) < 600
