"""The measured process: start Spark, run passes or epochs, write a result.

``run.py`` starts this file once per session of a run, one after the other;
each session keeps its outputs under ``<work>/session-<n>``. The result is a
JSON file; Spark's log goes to this process's stderr, which ``run.py`` keeps
as the run's log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from trace import SparkRecords, Tracer

MIN_WARM = 2


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Run:
    def __init__(self, args, spark, tracer: Tracer):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.work = args.work
        self.scratch = os.path.join(args.work, f"session-{args.session}")
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []  # one per pass or epoch, in order

    def record(self, wall: float, errs: list[str], **extra) -> None:
        self.attempted += 1
        if errs:
            self.failures.append(f"op {self.attempted - 1}: " + "; ".join(errs)[:500])
        self.passes.append(dict(extra, wall=wall, ok=not errs))

    def timed(self, fn, k: int, traced: bool):
        """Run one operation; an exception counts as a failed operation."""
        self.tracer.enabled = traced
        t = time.perf_counter()
        try:
            out = fn(k)
            errs = []
        except Exception as exc:  # noqa: BLE001 — a failing op is a measured outcome
            out, errs = None, [f"{type(exc).__name__}: {exc}".splitlines()[0]]
            traceback.print_exc()
        wall = time.perf_counter() - t
        self.tracer.enabled = self.args.trace
        return out, wall, errs

    def loop(self, op, gate_fn, after=None, warmup: int = 1, min_warm: int = MIN_WARM) -> None:
        """``warmup`` ops, then at least ``min_warm`` warm ops, and more until
        the warm ops' walls add up to ``--seconds`` (gates and input
        preparation between ops are not counted).

        With tracing on, warm ops alternate traced and untraced, so one run
        yields the per-layer record and the tracing overhead."""
        measured = 0.0
        k = 0
        min_ops = warmup + min_warm + bool(self.args.trace)
        while k < min_ops or measured < self.args.seconds:
            traced = bool(self.args.trace) and (k == 0 or k % 2 == 1)
            out, wall, errs = self.timed(op, k, traced)
            measured += wall if k >= warmup else 0.0
            if not errs:
                errs = gate_fn(k, out)
            if after is not None:
                after(k)
            self.record(wall, errs, index=k, traced=traced, **(out or {}))
            k += 1
            if len(self.failures) > 3 and len(self.failures) * 2 > k:
                break

    # -- batch pipelines ---------------------------------------------------

    def batch(self) -> None:
        import pyarrow.parquet as pq

        import gate
        import workloads as W
        from webscale_multimodal_datapipeline_spark.compiler import (
            MetricsCollector,
            compile_pipeline,
        )
        from webscale_multimodal_datapipeline_spark.metrics import write_metrics
        from webscale_multimodal_datapipeline_spark.sources.sinks import (
            write_parquet,
            write_rejected,
        )

        with open(os.path.join(self.work, "ctx.json")) as fh:
            ctx = json.load(fh)
        id_col = W.ID_COL[self.args.workload]
        ctx["input_ids"] = pq.read_table(ctx["input_dir"], columns=[id_col]).column(0).to_pylist()
        span = self.tracer.span
        recounts: list[int] = []
        harvest = MetricsCollector.harvest

        def counted_harvest(collector):
            with span("metrics.harvest"):
                rows = harvest(collector)
            recounts.append(sum(m.count_source == "recount" for m in rows))
            return rows

        MetricsCollector.harvest = counted_harvest

        def one_pass(k: int) -> dict:
            out = os.path.join(self.scratch, "out", str(k))
            kept, rej, mdir = (os.path.join(out, d) for d in ("kept", "rejected", "metrics"))
            with span("pass", index=k) as root:
                with span("compiler.compile"):
                    pipe = compile_pipeline(ctx["yaml"])
                with span("compiler.build"):
                    result = pipe.run(self.spark)
                with span("sinks.write_kept"):
                    write_parquet(result.output, kept, mode="overwrite")
                with span("sinks.write_rejected"):
                    write_rejected(result.rejected, rej, mode="overwrite")
                with span("metrics.write_metrics"):
                    write_metrics(result.metrics, mdir)
                result.release()
            info = {"out": out, "n": ctx["n_input"], "recounts": recounts[-1] if recounts else 0}
            if root is not None:
                info["span"] = root["id"]
                info["catalyst"] = _catalyst_ms(result.output)
                info["sink_bytes"], info["sink_files"] = (
                    a + b for a, b in zip(_dir_stats(kept), _dir_stats(rej))
                )
            return info

        def check(k: int, info: dict) -> list[str]:
            kept, rej = (os.path.join(info["out"], d) for d in ("kept", "rejected"))
            return gate.check_batch(self.args.workload, ctx, kept, rej)

        def drop_outputs(k: int) -> None:
            for d in ("kept", "rejected"):
                shutil.rmtree(os.path.join(self.scratch, "out", str(k), d), ignore_errors=True)

        self.loop(one_pass, check, drop_outputs)
        MetricsCollector.harvest = harvest
        if self.args.trace:
            self.render_report()

    def last_metrics_out(self) -> str | None:
        for p in reversed(self.passes):
            if p.get("span") is not None:
                return p["out"]
        return None

    def render_report(self) -> None:
        from webscale_multimodal_datapipeline_spark.report import render_html_report

        out = self.last_metrics_out()
        if out is None:
            return
        ops = self.spark.read.parquet(os.path.join(out, "metrics", "operators"))
        with self.tracer.span("report.render_html_report"):
            render_html_report(ops)

    # -- continuous crawl --------------------------------------------------

    def cdc(self) -> None:
        import gate
        import gen
        import oracle
        import workloads as W
        from webscale_multimodal_datapipeline_spark.sources import txtable as TX
        from webscale_multimodal_datapipeline_spark.streaming.pipeline import (
            incremental_dedup_batch_handler,
        )

        table = os.path.join(self.scratch, "table")
        epochs_dir = os.path.join(self.work, "input")
        expected = oracle.CdcExpected()
        handler = incremental_dedup_batch_handler(table, compact_every=W.CDC_COMPACT_EVERY)
        span = self.tracer.span
        for name in ("append", "compact", "read"):
            self.tracer.wrap(TX, name, f"txtable.{name}")
        user_bytes = 0

        def epoch(k: int) -> dict:
            with span("streaming.epoch", index=k) as root:
                handler(self.spark.read.parquet(path_for(k)), k)
            info = {"n": W.CDC_EPOCH_DOCS, "compaction": k > 0 and k % W.CDC_COMPACT_EVERY == 0}
            if root is not None:
                info["span"] = root["id"]
            return info

        def path_for(k: int) -> str:
            return os.path.join(epochs_dir, f"epoch-{k}.parquet")

        def check(k: int, info: dict) -> list[str]:
            files = [os.path.join(table, f) for f in TX.snapshot_files(table)]
            return gate.check_cdc(files, expected)

        def prepare(k: int) -> None:
            nonlocal user_bytes
            rows = gen.write_cdc_epoch(self.args.seed, k, W.CDC_EPOCH_DOCS, path_for(k))
            expected.add_epoch(rows)
            user_bytes += os.path.getsize(path_for(k))

        prepare(0)
        self.loop(epoch, check, lambda k: prepare(k + 1), W.CDC_WARMUP_EPOCHS, W.CDC_MIN_EPOCHS)
        self.cdc_state = {
            "versions": TX.latest_version(table) + 1,
            "snapshot_files": len(TX.snapshot_files(table)),
            # the last prepared epoch never ran
            "user_bytes": user_bytes - os.path.getsize(path_for(len(self.passes))),
            "table_bytes": _dir_stats(table)[0],
        }
        if self.args.trace:
            with span("txtable.snapshot_read") as rec:
                TX.read(self.spark, table).count()
            self.cdc_state["snapshot_read_s"] = rec["end"] - rec["start"]


def _catalyst_ms(df) -> dict:
    """Catalyst phase times of the output plan (planning forced, not run)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--session", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # set-up: nothing of the benchmark's own is imported before this ends
    from webscale_multimodal_datapipeline_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_s = time.time() - args.t0
    result = {"setup_s": setup_s, "jvm_pid": int(spark._jvm.ProcessHandle.current().pid())}
    tracer = Tracer(spark, bool(args.trace))
    if args.trace:
        with tracer.span("session.worker_warm") as rec:
            spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
        result["worker_warm_s"] = rec["end"] - rec["start"]
    run = Run(args, spark, tracer)
    if args.workload == "cdc_dedup":
        run.cdc()
    else:
        run.batch()

    result.update(
        attempted=run.attempted,
        failures=run.failures,
        passes=run.passes,
        peak_rss_mb=_vm_hwm_mb(result["jvm_pid"]) + _vm_hwm_mb("self"),
        cores=spark.sparkContext.defaultParallelism,
    )
    if args.workload == "cdc_dedup":
        result["cdc"] = run.cdc_state
    if args.trace:
        import layers

        result["layers"] = layers.per_layer(run, SparkRecords(spark), result)
        result["spans"] = tracer.spans
    # Exit at once: every output is already checked, so run.py kills the
    # JVM instead of waiting for Spark's shutdown.
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
