"""YAML pipeline compiler — config → one lazy Catalyst plan.

Reference lifecycle (``cli.py`` → ``PipelineConfig.from_yaml``
``config.py:150-214`` → ``Executor`` actor topology ``executor.py:23-235``
→ ObjectRef DAG): here the YAML compiles into a single chained DataFrame
expression — IR#2 (actor topology) and IR#3 (ObjectRef DAG) vanish; the
plan IS the pipeline, and Catalyst/AQE do scheduling, fusion, backpressure.

Config shape (mirrors the reference's ``data_loader → stages[operators] →
data_writer`` with snake_case operator names resolved via the registry,
``framework/registry.py:13-133``)::

    data_loader:
      table: documents            # or path: /abs/path.parquet
      max_samples: 100000         # optional → df.limit
    stages:
      - name: filter_stage
        partitions: 64              # optional repartition at stage entry
        operators:
          - type: text_length_filter
            params: {min_length: 100, max_length: 400}
          - type: text_stats_refiner
    data_writer:
      path: /tmp/out              # optional; partition_by: [col]
      rejected_path: /tmp/rej     # optional side-output
    collect_rejected: true
    expectations:                 # optional data-quality gate (quality.py):
      - type: not_null            #   one aggregation pass for the whole
        params: {col: doc_id}     #   battery; action: enforce also filters
      - type: in_set
        params: {col: lang, values: [en, fr]}
        action: enforce

Compile-time optimization (the reference does this manually by YAML stage
ordering, SURVEY §4): within each stage, pure-predicate Filter operators
whose required columns are all present in the *stage input* schema are
hoisted ahead of Refiners — cheap row pruning before expensive column
computation. Catalyst cannot reorder around opaque UDF stages on its own,
so the compiler guarantees it structurally.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.operators.base import (
    REJECTION_COL,
    FilterOperator,
    Operator,
    OperatorResult,
    RefinerOperator,
)
from webscale_multimodal_datapipeline_spark.operators.registry import create as create_operator
from webscale_multimodal_datapipeline_spark.session import local_frame


@dataclass
class StageConfig:
    name: str
    operators: list[Operator]
    # Optional repartition width at stage entry — the declarative analog of
    # the reference's per-stage worker replica count (``config.py:31-65``):
    # widen ahead of heavy UDF stages, narrow before a coalesced write.
    partitions: int | None = None


@dataclass
class PipelineConfig:
    loader: dict[str, Any]
    stages: list[StageConfig]
    writer: dict[str, Any] = field(default_factory=dict)
    collect_rejected: bool = False
    # declarative data-quality gate (quality.py), evaluated AFTER the last
    # stage: every listed check lands in one aggregation pass; checks with
    # ``action: enforce`` additionally filter the output.
    expectations: list[dict[str, Any]] = field(default_factory=list)

    @classmethod
    def from_dict(cls, cfg: dict[str, Any]) -> "PipelineConfig":
        stages = []
        for s in cfg.get("stages", []):
            ops = [
                create_operator(o["type"], **o.get("params", {}))
                for o in s.get("operators", [])
            ]
            stages.append(
                StageConfig(
                    name=s.get("name", f"stage_{len(stages)}"),
                    operators=ops,
                    partitions=int(s["partitions"]) if s.get("partitions") else None,
                )
            )
        return cls(
            loader=cfg.get("data_loader", {}),
            stages=stages,
            writer=cfg.get("data_writer", {}) or {},
            collect_rejected=bool(cfg.get("collect_rejected", False)),
            expectations=list(cfg.get("expectations", []) or []),
        )

    @classmethod
    def from_yaml(cls, path_or_str: str) -> "PipelineConfig":
        import yaml

        if "\n" in path_or_str:
            cfg = yaml.safe_load(path_or_str)
        else:
            with open(path_or_str) as f:
                cfg = yaml.safe_load(f)
        return cls.from_dict(cfg)


def _hoist_filters(ops: list[Operator], input_cols: set[str]) -> list[Operator]:
    """Stable-partition: filters runnable on the stage input move first."""
    added: set[str] = set()
    front: list[Operator] = []
    back: list[Operator] = []
    for op in ops:
        if isinstance(op, FilterOperator):
            refs = op.requires if op.requires is not None else _referenced_columns(op.predicate)
            # Hoist only when we can PROVE the predicate doesn't read a
            # column added earlier in this stage.
            if refs is not None and refs <= input_cols and not (refs & added):
                front.append(op)
                continue
        if isinstance(op, RefinerOperator):
            added |= set(op.columns.keys())
        back.append(op)
    return front + back


def _referenced_columns(col) -> set[str] | None:
    """Best-effort column references of an expression (None = unknown)."""
    try:
        jexpr = col._jc.expr() if hasattr(col, "_jc") else None
        if jexpr is None:
            return None
        refs = jexpr.references()
        it = refs.iterator()
        out = set()
        while it.hasNext():
            out.add(it.next().name())
        return out
    except Exception:
        return None


@dataclass
class OperatorMetric:
    run_id: str
    stage_name: str
    operator_name: str
    input_records: int
    output_records: int
    pass_rate: float
    # provenance: "observed" (CollectMetrics accumulator), "recount"
    # (fallback re-execution of the instrumented plan — may diverge from
    # what actually flowed on non-deterministic sources), "unavailable"
    count_source: str = "observed"


@dataclass
class PipelineResult:
    output: DataFrame
    rejected: DataFrame | None
    metrics: "MetricsCollector"
    # report over the PRE-enforcement output, one row per expectation
    # (None when the config declares no expectations)
    expectations_report: DataFrame | None = None
    # names of the expectations whose action was ``enforce`` (their
    # failing rows were dropped from ``output``) — lets the HTML report
    # show the warn/drop outcome per constraint
    enforced_expectations: tuple[str, ...] = ()
    # the pipeline's operator objects, for release() (ADVICE r6 #3)
    operators: tuple = ()

    def release(self) -> None:
        """Unpersist operator-held caches (near-dup maps, signature
        tables). ``run()`` calls this automatically when its writer
        config materialized every output; a caller consuming ``output``
        / ``rejected`` lazily owns the call instead — releasing before
        materializing is safe but forces a recompute."""
        for op in self.operators:
            try:
                op.release()
            except Exception:  # noqa: BLE001 — release must never raise
                pass


def _build_expectations(specs: list[dict[str, Any]]):
    """Compile YAML expectation specs into quality.py Expectations.

    Spec: ``{type: not_null|in_range|in_set|regex|unique, params: {...},
    action: report|enforce}`` — returns (all, enforced) lists."""
    from webscale_multimodal_datapipeline_spark import quality as Q

    factories = {
        "not_null": Q.expect_not_null,
        "in_range": Q.expect_in_range,
        "in_set": Q.expect_in_set,
        "regex": Q.expect_regex,
        "unique": Q.expect_unique,
    }
    all_exps, enforced = [], []
    for spec in specs:
        kind = spec["type"]
        if kind not in factories:
            raise ValueError(f"unknown expectation type: {kind!r}")
        params = dict(spec.get("params", {}))
        if "values" in params:  # YAML lists → tuple for isin
            params["values"] = tuple(params["values"])
        exp = factories[kind](**params)
        all_exps.append(exp)
        if spec.get("action", "report") == "enforce":
            if not exp.row_level:
                raise ValueError(f"{exp.name}: table-level checks cannot enforce")
            enforced.append(exp)
    return all_exps, enforced


def next_stage_id(spark: SparkSession) -> int | None:
    """Id the scheduler gives the next stage it creates (ids only grow
    within a SparkContext); None when the JVM scheduler is unreachable
    (e.g. Spark Connect)."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextStageId())
    except Exception:
        return None


class MetricsCollector:
    """Per-operator in/out counts via ``df.observe`` (reference A1/A2:
    ``framework/operator.py:119-184``, ``executor.py:760-846``) — counters
    ride the normal execution, no extra pass over the data."""

    def __init__(self, spark: SparkSession, run_id: str):
        from pyspark.sql import Observation

        self.spark = spark
        self.run_id = run_id
        self.started = time.time()
        # first stage id this run can own: the task-latency columns read
        # only stages from here on (metrics.task_latency_distributions)
        self.first_stage = next_stage_id(spark)
        # (stage, operator, Observation, instrumented checkpoint df)
        self._obs: list[tuple[str, str, Any, DataFrame]] = []
        self._Observation = Observation

    def instrument(self, df: DataFrame, stage: str, operator: str) -> DataFrame:
        obs = self._Observation(f"{stage}.{operator}.{uuid.uuid4().hex[:6]}")
        out = df.observe(obs, F.count(F.lit(1)).alias("n"))
        self._obs.append((stage, operator, obs, out))
        return out

    def harvest(self) -> list[OperatorMetric]:
        """Call after an action has run on the instrumented DataFrame.

        Observations are read through the JVM row (PySpark's ``obs.get``
        asserts in ``toPyRow`` on a schemaless empty row). An observation
        CAN legitimately come back as an empty map: a query stage that
        runs zero tasks (runtime-pruned to nothing on degenerate input)
        never updates the CollectMetrics accumulator. That is an artifact
        of the adaptive physical plan, not a statement about the data —
        so fall back to counting the instrumented checkpoint directly
        (one extra bounded action, only on the anomaly path; -1 remains
        only for a genuinely unrunnable count)."""
        rows: list[OperatorMetric] = []
        counts: list[tuple[str, str, int, str]] = []
        for stage, op, obs, df in self._obs:
            n = None
            try:
                # _jo is the classic-PySpark JVM handle; absent under
                # Spark Connect (ADVICE r6 #2). Read through the JVM's
                # getRowOrEmpty — the ONLY non-blocking accessor: both
                # the JVM get()/getRow() and PySpark's obs.get AWAIT the
                # observation's future (Observation.scala awaitResult),
                # so calling them on a plan whose action never ran hangs
                # the harvest forever (verified; a try can't catch a
                # block). None = not yet completed; Some(empty row) =
                # completed but the observe stage ran zero tasks
                # (runtime-pruned input) — both fall through to the
                # recount. Under Connect there is no non-blocking
                # surface at all, so the recount path is the read.
                jo = getattr(obs, "_jo", None)
                if jo is not None:
                    opt = jo.getRowOrEmpty()
                    if opt.isDefined() and opt.get().size() > 0:
                        n = int(obs.get["n"])  # row available: no await
            except Exception:
                n = None
            source = "observed"
            if n is None:
                # Recount fallback re-executes the instrumented plan — a
                # non-deterministic or since-mutated source can report a
                # count that differs from what actually flowed, so the
                # provenance is recorded on the metric (ADVICE r6 #2).
                try:
                    n = df.count()
                    source = "recount"
                except Exception:
                    n = -1
                    source = "unavailable"
            counts.append((stage, op, n, source))
        for i, (stage, op, n_out, source) in enumerate(counts):
            n_in = counts[i - 1][2] if i > 0 else n_out
            rows.append(
                OperatorMetric(
                    run_id=self.run_id,
                    stage_name=stage,
                    operator_name=op,
                    input_records=n_in,
                    output_records=n_out,
                    pass_rate=(n_out / n_in) if n_in > 0 else 1.0,
                    count_source=source,
                )
            )
        return rows

    def timed_rows(self) -> list[tuple]:
        """One :meth:`harvest` as ``(run_id, stage_name, operator_name,
        input_records, output_records, pass_rate, total_time, throughput)``
        tuples; ``total_time`` is the run's wall so far."""
        rows = self.harvest()
        total_time = time.time() - self.started
        return [
            (
                m.run_id,
                m.stage_name,
                m.operator_name,
                m.input_records,
                m.output_records,
                float(m.pass_rate),
                float(total_time),
                (m.output_records / total_time) if total_time > 0 else 0.0,
            )
            for m in rows
        ]

    def to_dataframe(self) -> DataFrame:
        """Metrics as a DataFrame in the reference's operator-metrics
        parquet shape (``framework/metrics/writer.py:28-54``)."""
        # one partition: a write of it is one file, and a grouping of it
        # needs no shuffle
        return local_frame(
            self.spark,
            self.timed_rows(),
            "run_id string, stage_name string, operator_name string, "
            "input_records long, output_records long, pass_rate double, "
            "total_time double, throughput double",
        ).coalesce(1)


class Pipeline:
    """Compiled pipeline: one lazy plan + optional rejected side-plan."""

    def __init__(self, config: PipelineConfig):
        self.config = config

    def load(self, spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
        ld = self.config.loader
        if "table" in ld:
            if sf_dir is None:
                raise ValueError("sf_dir required for table loader")
            df = load_table(spark, sf_dir, ld["table"])
        elif "path" in ld:
            df = spark.read.parquet(ld["path"])
        else:
            raise ValueError("data_loader needs 'table' or 'path'")
        if ld.get("max_samples"):
            df = df.limit(int(ld["max_samples"]))
        return df

    def run(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        observe_metrics: bool = True,
    ) -> PipelineResult:
        df = self.load(spark, sf_dir)
        run_id = uuid.uuid4().hex[:12]
        metrics = MetricsCollector(spark, run_id)
        if observe_metrics:
            # input-count anchor so the first operator's pass_rate is real
            df = metrics.instrument(df, "source", "source")
        rejected_parts: list[DataFrame] = []

        for stage in self.config.stages:
            if stage.partitions:
                df = df.repartition(stage.partitions)
            ops = _hoist_filters(stage.operators, set(df.columns))
            for op in ops:
                if self.config.collect_rejected:
                    res: OperatorResult = op.split(df)
                    if res.rejected is not None:
                        rejected_parts.append(res.rejected)
                    df = res.passed
                else:
                    df = op.apply(df)
                if observe_metrics:
                    df = metrics.instrument(df, stage.name, op.name)

        rejected = None
        if rejected_parts:
            rejected = rejected_parts[0]
            for part in rejected_parts[1:]:
                rejected = rejected.unionByName(part, allowMissingColumns=True)

        expectations_report = None
        enforced_names: tuple[str, ...] = ()
        if self.config.expectations:
            from webscale_multimodal_datapipeline_spark import quality as Q

            all_exps, enforced = _build_expectations(self.config.expectations)
            expectations_report = Q.evaluate(df, all_exps)
            if enforced:
                df = Q.enforce(df, enforced)
                enforced_names = tuple(e.name for e in enforced)

        wr = self.config.writer
        if wr.get("path"):
            if wr.get("format") == "txtable":
                # transactional commit-log table (sources/txtable.py):
                # append/overwrite become atomic log commits with
                # snapshot isolation and time travel
                from webscale_multimodal_datapipeline_spark.sources import txtable

                if wr.get("mode", "overwrite") == "append":
                    txtable.append(df, wr["path"])
                else:
                    txtable.overwrite(df, wr["path"])
            else:
                writer = df.write.mode(wr.get("mode", "overwrite")).option(
                    "compression", wr.get("compression", "snappy")
                )
                if wr.get("partition_by"):
                    writer = writer.partitionBy(*wr["partition_by"])
                writer.parquet(wr["path"])
        if wr.get("rejected_path") and rejected is not None:
            # partitioned by rejecting operator (reference executor.py:100-124)
            (
                rejected.withColumn("operator", F.col(f"{REJECTION_COL}.operator"))
                .write.mode("overwrite")
                .partitionBy("operator")
                .parquet(wr["rejected_path"])
            )
        result = PipelineResult(
            output=df,
            rejected=rejected,
            metrics=metrics,
            expectations_report=expectations_report,
            enforced_expectations=enforced_names,
            operators=tuple(
                op for stage in self.config.stages for op in stage.operators
            ),
        )
        # Deterministic cache release (ADVICE r6 #3): when the writer
        # config materialized every produced output inside this call,
        # nothing lazy remains that could want the caches back.
        if wr.get("path") and (rejected is None or wr.get("rejected_path")):
            result.release()
        return result


    def stream(
        self,
        spark: SparkSession,
        source_dir: str,
        schema,
        max_files_per_trigger: int = 1,
        metrics: bool = True,
    ) -> DataFrame:
        """Streaming execution of the SAME operator chain: the plan is
        execution-mode agnostic (Refiner/Filter operators are plain
        DataFrame transforms). ``maxFilesPerTrigger`` is the reference's
        ``max_in_flight`` backpressure knob (executor.py:462-469).

        Deduplicators are skipped here — streaming dedup needs watermark
        semantics (``streaming.pipeline.streaming_dedup``); mixing the two
        silently would change semantics, so we fail loudly instead.
        """
        df = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        for stage in self.config.stages:
            ops = _hoist_filters(stage.operators, set(df.columns))
            for idx, op in enumerate(ops):
                if op.kind == "deduplicator":
                    raise ValueError(
                        f"operator {op.name!r}: batch dedup has no streaming "
                        "semantics; use streaming.pipeline.streaming_dedup "
                        "(dropDuplicatesWithinWatermark) instead"
                    )
                df = op.apply(df)
                if metrics:
                    # string-named observe: streaming-legal; counters land
                    # in every progress event's observedMetrics (A1 on the
                    # streaming path — harvest with stream_operator_counts).
                    # The in-stage index keeps names unique when two
                    # operators of the same type (default name = type name)
                    # share a stage — Spark rejects duplicate observation
                    # names at analysis time.
                    df = df.observe(
                        f"m.{stage.name}.{idx}.{op.name}",
                        F.count(F.lit(1)).alias("n"),
                    )
        return df


def compile_pipeline(cfg: dict[str, Any] | str) -> Pipeline:
    if isinstance(cfg, str):
        return Pipeline(PipelineConfig.from_yaml(cfg))
    return Pipeline(PipelineConfig.from_dict(cfg))
