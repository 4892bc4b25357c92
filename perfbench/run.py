#!/usr/bin/env python3
"""Whole-pipeline benchmark for webscale_multimodal_datapipeline_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload image_curation --seed 1 --seconds 8 --trace 0

Workloads: image_curation, cdc_dedup, text_curation, semantic_dedup (see
workloads.py). Each run:

1. generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
   and computes the expected outputs (DuckDB oracle SQL) -- both untimed;
2. starts the measured process (``worker.py``) at ``local[nproc]``, once
   (traced) or ``workloads.SESSIONS`` times one after the other (untraced).
   Each session sets up, runs a first pass in the fresh session, then at
   least two warm passes (cdc: three warm-up epochs, then at least five),
   more until its warm ones add up to its share of ``--seconds``, each
   gated for correctness;
3. prints a detail line (steal, load, pass walls, the tail's percentile and
   sample count, failures), then the result line: end-to-end metrics with
   ``--trace 0``, per-layer metrics (layers.py) with ``--trace 1``. A traced
   run also writes its spans to ``.perfbench_work/traces/``.

End-to-end metrics: ``setup_s`` (process start until the session is up and
a trivial action has run), ``first_pass_s`` (compile until every output is
written, in the fresh session; cdc: the first epoch), both the median over
the sessions, ``rec_per_s`` (input records over the median warm pass; cdc:
docs over the summed warm epochs), ``epoch_p50_s`` (median warm pass or
epoch) and ``epoch_tail_s`` (see ``tail``), the warm ones pooled over the
sessions.

Host pinning happens here, through the environment only: SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM, PYTHONPATH (so Python workers import the package)
and SPARK_LOCAL_DIRS.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170.0
CODEGEN_FALLBACK = re.compile(r"Failed to compile|[Cc]odegen disabled|whole-stage codegen was disabled")

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "rec_per_s": "rec/s",
    "epoch_p50_s": "s",
    "epoch_tail_s": "s",
}


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _host_env(root: str, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{min(3072, ram_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (root, HERE, env.get("PYTHONPATH")) if p),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _become_subreaper() -> None:
    """Orphaned descendants (the worker's JVM) are re-parented to this
    process, so ``_wait_gone`` can reap them."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _wait_gone(pid: int, timeout: float = 15.0) -> None:
    """Wait until a descendant that is not our direct child has ended."""
    end = time.time() + timeout
    while time.time() < end:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            with open(f"/proc/{pid}/stat") as fh:
                zombie = fh.read().rsplit(")", 1)[1].split()[0] == "Z"
        except OSError:
            return
        if zombie:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass
            return
        time.sleep(0.05)
    try:
        os.kill(pid, signal.SIGKILL)
    except OSError:
        pass


def _worker(args, work: str, env: dict, log, deadline: float, session: int, seconds: float) -> dict:
    """One measured process, whose warm passes add up to ``seconds``."""
    out = os.path.join(work, f"result-{session}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload, "--work", work, "--seed", str(args.seed),
        "--seconds", repr(seconds), "--trace", str(args.trace), "--out", out,
        "--session", str(session),
    ]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError("worker timed out") from None
    finally:
        # The worker exits without stopping Spark, and on a timeout or a
        # signal it is still running: end it with its JVM and Python workers.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker exited {rc}")
    with open(out) as fh:
        res = json.load(fh)
    _wait_gone(res["jvm_pid"])
    shutil.rmtree(os.path.join(work, f"session-{session}"), ignore_errors=True)
    return res


def _expected(workload: str, ctx: dict, cache_dir: str) -> dict | None:
    """Oracle result for the generated input, cached by input content."""
    import oracle
    from workloads import TEXT_FILTERS

    if workload not in ("text_curation", "semantic_dedup"):
        return None
    h = hashlib.sha256()
    for name in sorted(os.listdir(ctx["input_dir"])):
        with open(os.path.join(ctx["input_dir"], name), "rb") as fh:
            h.update(fh.read())
    path = os.path.join(cache_dir, f"{workload}-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    glob_ = os.path.join(ctx["input_dir"], "*.parquet")
    if workload == "text_curation":
        exp = oracle.text_expected(glob_, TEXT_FILTERS)
    else:
        exp = oracle.semantic_expected(glob_)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(exp, fh)
    return exp


def self_times(spans: list[dict]) -> dict:
    """Mean self time per span name: duration minus the part of the
    interval that child spans cover."""
    from trace import self_time

    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    acc: dict = {}
    for s in spans:
        s["self_s"] = self_time(s, kids.get(s["id"], []))
        acc.setdefault(s["name"], []).append(s["self_s"])
    return {name: statistics.fmean(v) for name, v in acc.items()}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest sample with at
    least ten samples above it. Below 21 samples no percentile above the
    median has ten beyond it, and the median is reported."""
    xs = sorted(values)
    if len(xs) < 21:
        return statistics.median(xs), 50.0, len(xs) // 2
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), 10


def end_to_end(workload: str, results: list[dict], warmup: int) -> dict:
    """End-to-end metrics of a run's sessions; the first ``warmup``
    operations of each session are not warm."""
    warm = [p for r in results for p in r["passes"][warmup:] if p["ok"]]
    walls = [p["wall"] for p in warm]
    if not walls:
        raise RuntimeError("no successful warm operation")
    if workload == "cdc_dedup":
        rate = sum(p["n"] for p in warm) / sum(walls)
    else:
        rate = warm[0]["n"] / statistics.median(walls)
    value, pct, beyond = tail(walls)
    return {
        "tail_detail": {"percentile": round(pct, 1), "beyond": beyond, "samples": len(walls)},
        "setup_s": statistics.median(r["setup_s"] for r in results),
        "first_pass_s": statistics.median(r["passes"][0]["wall"] for r in results),
        "rec_per_s": rate,
        "epoch_p50_s": statistics.median(walls),
        "epoch_tail_s": value,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + TIMEOUT_S
    _become_subreaper()
    # SIGTERM unwinds like an error, so the worker is killed and files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "webscale_multimodal_datapipeline_spark", "__init__.py")):
        return _fail("run from the repository root: the package is not here")
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; known: {workloads.WORKLOADS}")
    if args.seconds <= 0:
        return _fail("--seconds must be positive")

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "spark.log")
    t_start = time.monotonic()
    phases = {}
    try:
        ctx = workloads.generate(args.workload, args.seed, work)
        phases["generate_s"] = time.monotonic() - t_start
        ctx["expected"] = _expected(args.workload, ctx, os.path.join(base, "oracle"))
        phases["oracle_s"] = time.monotonic() - t_start - phases["generate_s"]
        with open(os.path.join(work, "ctx.json"), "w") as fh:
            json.dump(ctx, fh)
        env = _host_env(root, work)

        from bench import steal_pct, steal_snapshot

        steal0, load0 = steal_snapshot(), os.getloadavg()[0]
        t = time.monotonic()
        sessions = 1 if args.trace else workloads.SESSIONS
        with open(log_path, "w") as log:
            results = [_worker(args, work, env, log, deadline, i, args.seconds / sessions) for i in range(sessions)]
        phases["worker_s"] = time.monotonic() - t
        res = results[0]
        failures = [f"session {i}: {f}" for i, r in enumerate(results) for f in r["failures"]]
        attempted = sum(r["attempted"] for r in results)
        steal, load = steal_pct(steal0, steal_snapshot()), max(load0, os.getloadavg()[0])
        with open(log_path, errors="replace") as fh:
            fallbacks = sum(bool(CODEGEN_FALLBACK.search(line)) for line in fh)

        cdc = args.workload == "cdc_dedup"
        e2e = end_to_end(args.workload, results, workloads.CDC_WARMUP_EPOCHS if cdc else 1)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "epoch_tail": e2e.pop("tail_detail"), "steal_pct": round(steal, 3),
            "loadavg_1m": load, "failures": failures[:5],
            "codegen_fallbacks": fallbacks,
            "phases": {k: round(v, 2) for k, v in phases.items()},
            "setups": [round(r["setup_s"], 3) for r in results],
            "pass_walls": [[round(p["wall"], 3) for p in r["passes"]] for r in results],
        }
        if args.trace:
            from layers import PER_LAYER

            layers = dict(res["layers"], **{
                "exec.codegen_fallbacks": fallbacks, "host.steal_pct": steal,
                "host.loadavg_1m": load, "peak_rss_mb": res["peak_rss_mb"],
            })
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            record = {"detail": detail, "passes": res["passes"], "layers": layers,
                      "spans": res["spans"], "self_s_by_span": self_times(res["spans"])}
            with open(trace_path, "w") as fh:
                json.dump(record, fh, indent=1)
            detail["trace"] = os.path.relpath(trace_path, root)
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(detail))
        print(json.dumps({
            "correct": not failures,
            "attempted": int(attempted),
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    except Exception as exc:  # noqa: BLE001
        if os.path.exists(log_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        return _fail(f"{type(exc).__name__}: {exc}", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
