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
