"""Benchmark runner — the driver's per-round performance probe.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-driver count).
A warm-up action first absorbs JVM/codegen startup so numbers reflect
steady-state execution, matching how the reference reports per-operator
throughput after workers are up (``README.md:418-440``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webscale_multimodal_datapipeline_spark.plans.registry import QUERIES
from webscale_multimodal_datapipeline_spark.session import DEFAULT_CPUS, get_spark

# ---------------------------------------------------------------------------
# Contention sentinel (round-5 fix, VERDICT r4 #2): the r4 driver run was
# depressed 3-8x on ~8 lanes by external box load, with tight within-run
# spread — invisible to the record. Two signals fix that:
#   * 1-min loadavg before/after the whole bench run, and
#   * one fixed ~50 ms single-threaded calibration kernel re-timed between
#     lane groups. The kernel's work is constant, so any deviation between
#     re-timings is external load (or GC/THP stalls), never workload drift.
# Both land in the compact machine line so a regression gate can discount
# contended runs instead of recording phantom regressions.
# ---------------------------------------------------------------------------

_CAL_ARR = None


def calibration_ms(samples: int = 3, settle_s: float = 0.25) -> float:
    """Fixed single-threaded kernel, ~40-60 ms idle: integer multiply-shift
    sweep over a preallocated 4M-element uint64 array. Constant work →
    wall-time deviation between invocations measures load only.

    Reported value = MIN of ``samples`` timings with a ``settle_s`` pause
    before each: a checkpoint taken right after a Spark action still sees
    the JVM draining (GC, worker teardown — SELF-load that decays within
    a few hundred ms and false-tripped the 30% gate on every full bench
    run), while genuinely external contention stays elevated across all
    samples. The min keeps the sentinel aimed at what it was built for —
    sustained external load — at ~1 s per checkpoint."""
    import numpy as np

    global _CAL_ARR
    if _CAL_ARR is None:
        _CAL_ARR = np.arange(4_000_000, dtype=np.uint64)
        # Untimed warm pass (full kernel): first-touch page faults + numpy
        # dispatch otherwise inflate the first timed reading ~5x (measured
        # 200 ms vs a ~25 ms steady state), which would read as phantom
        # load and false-trip the 30% gate.
        for _ in range(5):
            ((_CAL_ARR * np.uint64(2654435761)) >> np.uint64(7)).sum()
    best = None
    for _ in range(max(1, samples)):
        time.sleep(settle_s)
        t0 = time.perf_counter()
        acc = 0
        for _ in range(5):
            acc ^= int((( _CAL_ARR * np.uint64(2654435761)) >> np.uint64(7)).sum())
        if acc == 0:  # keep the work observable (no dead-code elimination);
            # explicit raise, not assert: ``python -O`` strips asserts
            raise RuntimeError("calibration kernel produced impossible zero")
        dt = (time.perf_counter() - t0) * 1000.0
        best = dt if best is None else min(best, dt)
    return best


def steal_snapshot() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate ``cpu`` line of
    ``/proc/stat``; None when unreadable (non-Linux).

    Hypervisor-steal sentinel (r10 session 2, measured event): on the
    shared-host sandbox one otherwise-idle bench run recorded three late
    lanes at 10-30x their in-band walls (d_dup_span_stats passes
    [14.95, 30.32, 50.22] s vs 0.96-1.11 s isolated minutes later on
    identical code) while BOTH existing sentinels read clean-to-moderate
    (cal_dev 0.36, start loadavg 0.31): guest loadavg cannot see host
    contention at all, and the single-threaded calibration kernel
    under-detects it — a host-level CPU cap crushes 32-thread throughput
    long before it doubles one thread's latency. Steal time is the one
    guest-visible signal of that failure mode."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if not parts or parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        # user nice system idle iowait irq softirq STEAL guest guest_nice
        # Total = first 8 fields only (ADVICE r10): Linux already folds
        # guest into user and guest_nice into nice, so summing all 10
        # double-counts guest ticks and understates steal on guest-running
        # hosts.
        return (vals[7] if len(vals) > 7 else 0, sum(vals[:8]))
    except (OSError, ValueError):
        return None


def steal_pct(a: tuple[int, int] | None, b: tuple[int, int] | None) -> float:
    """Percent of elapsed CPU ticks the hypervisor stole between two
    ``steal_snapshot`` readings; 0.0 on degenerate input (missing
    snapshot, clock not advancing). Recorded as a sentinel field only —
    it does not feed the refuse ritual (one observed event is not a
    calibrated threshold; the field exists so the grader can discount a
    run the way ``contended``/``ambient`` allow)."""
    if not a or not b:
        return 0.0
    dt = b[1] - a[1]
    if dt <= 0:
        return 0.0
    return round(100.0 * max(0, b[0] - a[0]) / dt, 1)


def contention_flag(cal_ms: list[float], threshold: float = 0.60) -> tuple[float, bool]:
    """(deviation, contended): deviation = (max-min)/min over the calibration
    re-timings; contended when it exceeds ``threshold``.

    Threshold calibration (measured, round 5): the single-threaded kernel
    reads +20-35% while a 32-thread Spark JVM is merely RESIDENT (memory-
    bandwidth sharing — sustained for the process lifetime, so the
    min-of-3 sampling can't subtract it; idle full-bench runs measure
    dev 0.31 with checkpoints [34,45,43,39] ms), while every real
    contention event in the r4/r5 record measured dev ≥ 2.0 (3-8x lane
    depressions). 0.60 sits safely above the self-noise band and far
    below observed true positives; the r4 VERDICT's original 30% gate
    false-tripped on every full run."""
    if not cal_ms or min(cal_ms) <= 0:
        return 0.0, False
    dev = (max(cal_ms) - min(cal_ms)) / min(cal_ms)
    return round(dev, 2), dev > threshold


# Session-ambient load gate (round-7, VERDICT r6 #6): the r6 driver run
# started at loadavg 5.7 and the per-lane sentinel flagged two lanes whose
# readings were inside their historical bands — whole-run ambient load is
# indistinguishable in the record from a genuinely depressed lane. This
# marker separates them: `ambient=1` means the RUN was loaded (discount the
# lane flags — they likely reflect session-wide contention), `ambient=0`
# with lane flags means those specific lanes' readings are suspect.
# Threshold: an idle 32-core box reads < 1; every recorded contended run
# (r4: 8.1, r5: 3.3, r6: 5.7) read > 3. 2.0 splits the bands with margin.
AMBIENT_LOAD_THRESHOLD = 2.0


def ambient_flag(load: list[float], threshold: float = AMBIENT_LOAD_THRESHOLD) -> int:
    """1 iff the 1-min loadavg at RUN START exceeded the threshold.

    Start only, by design: the END reading always carries the bench's own
    32-thread self-load (every recorded run ends at 15-24 regardless of
    ambient state — r5 [3.32, 24.11], r6 [5.7, 19.36], an idle r7 run
    [0.36, 15.73]), so including it would trip the flag on every run."""
    return int(bool(load) and load[0] > threshold)


def _env_truthy(v: str | None) -> bool:
    """Env-flag truthiness: '0'/''/'false'/'no' mean UNSET (code review
    r9: a bare ``e.get(...)`` treats ALLOW_CONTENDED=0 — someone saying
    'do NOT allow' — as allow)."""
    return bool(v) and v.strip().lower() not in ("0", "false", "no")


def should_refuse_contended(
    cal: list[float], load: list[float] | None = None, env: dict | None = None
) -> bool:
    """Round-9 refuse-to-record decision (VERDICT r8 #3): True iff the run
    tripped the global contention sentinel (``contention_flag``) or started
    on an already-loaded session (``ambient_flag``) and no explicit
    override is set. ``main`` exits 3 when this is True, after printing
    the flagged numbers; the probe tools call this too (one ritual, one
    spelling — both env overrides honored everywhere)."""
    e = os.environ if env is None else env
    _, contended = contention_flag(cal)
    if not (contended or ambient_flag(load or [])):
        return False
    return not (
        _env_truthy(e.get("SPARK_GRAFT_BENCH_ALLOW_CONTENDED"))
        or _env_truthy(e.get("SPARK_GRAFT_PROBE_ALLOW_CONTENDED"))
    )


# ---------------------------------------------------------------------------
# Round-10 headline best-of-N (VERDICT r9 task 5): the r8/r9 driver records
# were BOTH flagged contended sessions whose headline walls ran one timed
# pass per query, so a load burst during any single pass landed verbatim in
# the record and the refuse ritual (rc=3) was the only defense — but the
# driver keeps the tail regardless of exit code. Fix direction per the
# VERDICT: make the recorded numbers themselves burst-robust. Each headline
# query now runs TWICE (a third time only when the two walls disagree by
# more than HEADLINE_REL_GATE) and records the MINIMUM — a burst confined
# to one pass cannot reach the record. The refusal ritual stays, but only
# for SEVERE sustained load (cal_dev >= SEVERE_CAL_DEV, the measured band
# of every true contention event r4-r9: dev >= 2.0 / 3-8x lane
# depressions), where even per-query minima are machine artifacts.
# Moderate elevation (the r9 driver session: cal_dev 0.69) records
# in-band minima with sentinel flags instead of a refusal.
#
# METHOD CHANGE NOTE (cross-round band continuity): headline walls through
# r9 were single-pass and include per-plan codegen; the min-of-N wall is
# typically a warm second pass, so r10+ walls read systematically LOWER on
# identical code. The verbose detail line carries both series
# ("queries_first_pass" = the old statistic) so cross-round comparison
# stays possible; bands are re-pinned at r10.
# ---------------------------------------------------------------------------

HEADLINE_REL_GATE = 0.20
SEVERE_CAL_DEV = 2.0
SEVERE_LOAD_START = 8.0

# ---------------------------------------------------------------------------
# Round-11 steal ritual (VERDICT r10 task 1): the r10 driver record was
# machine-contaminated (5.7% run-wide hypervisor steal, 24 untouched lanes
# regressed 2-8x while the same HEAD ran 2.55x faster at 8 cores) and the
# steal_pct field was sentinel-only, so the run RECORDED. Measured facts on
# this host class (r11 session probes): a fully idle guest reads 0.0% and a
# 7-second 32-process full-core burn still reads 0.0% — steal is NOT a
# function of self-load here; nonzero steal is genuine host-side contention,
# arriving in episodes that last seconds to minutes. Defense in two layers:
#   * RE-RUN: each headline pass is bracketed with steal snapshots; when
#     EVERY pass of a query saw >= STEAL_PASS_GATE percent steal, extra
#     passes (up to MAX_STEAL_EXTRA) chase a steal-clean window. Steal only
#     ever slows a pass, so the recorded min over ALL passes stays valid;
#     the retries exist to get one untainted pass under the min.
#     Throughput lanes re-run their whole timed triple once on the same
#     condition and keep the faster (less contaminated) attempt.
#   * REFUSE: when run-wide steal is past STEAL_REFUSE_PCT *and* some lane
#     still has no steal-clean pass after retries (steal_bad > 0), even the
#     minima measure the host, not the code — exit 3 like the severe
#     cal_dev/load ritual. A high-steal run whose every lane found a clean
#     window still records (the minima are demonstrably untainted), which
#     keeps the gate from discarding good records on hosts where brief
#     steal bursts are background weather.
# ---------------------------------------------------------------------------

STEAL_PASS_GATE = 1.0     # % of a pass's elapsed ticks stolen => tainted
STEAL_REFUSE_PCT = 2.0    # run-wide % past which dirty lanes refuse the run
MAX_STEAL_EXTRA = 2       # extra chances to find a steal-clean pass


def steal_all_tainted(steals: list[float], gate: float = STEAL_PASS_GATE) -> bool:
    """True iff every recorded pass of a lane saw steal at/past ``gate`` —
    the retry/flag condition. Empty input (snapshots unreadable, non-Linux)
    is never tainted: no signal, no retry loop."""
    return bool(steals) and all(s >= gate for s in steals)


def headline_extra_run(
    t1: float, t2: float, rel_gate: float = HEADLINE_REL_GATE
) -> bool:
    """True iff a third timed pass is warranted: the first two walls
    disagree by more than ``rel_gate`` of their minimum (one of them ate a
    burst, or pass 1's codegen dominated a short query — either way the
    third pass disambiguates and the min stays the steady-state wall)."""
    lo = min(t1, t2)
    if lo <= 0:
        return False
    return (max(t1, t2) - lo) / lo > rel_gate


def should_refuse_bench(
    cal: list[float],
    load: list[float] | None = None,
    env: dict | None = None,
    steal: float = 0.0,
    steal_bad: int = 0,
) -> bool:
    """Bench-specific refuse-to-record decision (r10, replaces the r9
    blanket ritual for ``bench.main`` only — the probe tools keep
    ``should_refuse_contended``, they have no best-of-N minima). True iff
    the session shows SEVERE sustained contention: calibration deviation at
    or past ``SEVERE_CAL_DEV`` (every true r4-r9 contention event measured
    dev >= 2.0) or a start loadavg at or past ``SEVERE_LOAD_START`` (the r4
    catastrophic session started at 8.1). Below those bars the per-query
    minima are expected in-band and the run records with its sentinel flags
    (``contended``/``ambient``/``lane_flags``) for the grader to weigh.
    Env overrides are honored exactly as before.

    r11 (VERDICT r10 task 1): hypervisor steal joins the ritual. A run
    whose run-wide ``steal`` is at/past ``STEAL_REFUSE_PCT`` *and* that
    still has ``steal_bad`` lanes without one steal-clean pass after the
    retry ladder refuses — those lanes' minima measure the host (the r10
    driver record's exact failure: 5.7% steal, sentinel-only, recorded).
    Steal alone does not refuse: if every lane found a clean window the
    minima are demonstrably untainted and the record stands."""
    e = os.environ if env is None else env
    dev, _ = contention_flag(cal)
    severe = (
        dev >= SEVERE_CAL_DEV
        or bool(load) and load[0] >= SEVERE_LOAD_START
        or (steal >= STEAL_REFUSE_PCT and steal_bad > 0)
    )
    if not severe:
        return False
    return not (
        _env_truthy(e.get("SPARK_GRAFT_BENCH_ALLOW_CONTENDED"))
        or _env_truthy(e.get("SPARK_GRAFT_PROBE_ALLOW_CONTENDED"))
    )


def lane_flags(
    tp: dict[str, dict[str, float]], threshold: float = 0.60
) -> dict[str, float]:
    """Per-LANE contention flags (round-6, VERDICT r5 finding #1): the four
    per-group checkpoints bracket lane *groups*, so a load burst confined
    to one lane's three timed runs was invisible (r5: pii_redact recorded
    132K with ``contended: 0`` vs 657K idle). ``measure()`` now re-times
    the calibration kernel immediately before AND after each lane's triple
    (``cal_ms: [before, after]``); this post-hoc pass computes each lane's
    deviation against the session-wide minimum reading (all readings taken
    under the same resident-JVM background, so the +20-35% residency
    self-noise cancels) and returns ``{lane: dev}`` for lanes over the
    same measured 0.60 gate. Disjoint from the global ``contended`` flag:
    that one catches whole-run load, this one catches lane-local bursts."""
    cals = [c for m in tp.values() for c in m.get("cal_ms", ())]
    if not cals or min(cals) <= 0:
        return {}
    base = min(cals)
    flagged: dict[str, float] = {}
    for name, m in tp.items():
        lane = m.get("cal_ms")
        if not lane:
            continue
        dev = (max(lane) - base) / base
        m["cal_dev"] = round(dev, 2)
        if dev > threshold:
            flagged[name] = round(dev, 2)
    return flagged


# Compact-line lane keys: the verbose detail line keeps the full historical
# lane names; the budgeted machine line shortens them (suffix strip only —
# a reader maps them back unambiguously).
def _short_lane(name: str) -> str:
    for suf in ("_1m_md5_oracle", "_100k", "_1m"):
        if name.endswith(suf):
            return name[: -len(suf)] + ("_md5" if "md5" in suf else "")
    # infix size tag (e.g. simhash_1m_arrow -> simhash_arrow)
    return name.replace("_1m_", "_").replace("_100k_", "_")


def compact_line(
    total: float,
    per_query: dict[str, float],
    tp: dict[str, dict[str, float]],
    sf: float,
    load: list[float],
    cal: list[float],
    flags: dict[str, float] | None = None,
    steal: float = 0.0,
    steal_bad: int = 0,
) -> str:
    """The LAST stdout line — must fit the driver's 2,000-char tail buffer.

    Budget (VERDICT r4 #1): walls at 2 dp, rec/s as integer THOUSANDS under
    short lane keys (``"url_filter":502`` = 502K rec/s), spreads only in the
    verbose line, plus the contention sentinel. Asserted < 1920 chars so
    growth fails loudly at build/test time, not in the driver's record
    (the r2/r4 failure mode: the line silently outgrew the buffer).
    Budget history: 1900 through r10 s1; the steal_pct sentinel costs 17
    chars at worst case (1911 vs the old 1894) — gate moved to 1920; the
    r11 steal_bad counter costs 16 more at worst case (1927) — gate moved
    to 1950, still 50 under the true 2,000-char tail buffer, and the
    worst-case test keeps pinning every future addition against it."""
    dev, contended = contention_flag(cal)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(total, 2),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in per_query.items()},
            "rec_k": {_short_lane(k): int(round(m["rec_per_sec"] / 1000.0)) for k, m in tp.items()},
            "load": [round(x, 2) for x in load],
            "cal_ms": [int(round(c)) for c in cal],
            "cal_dev": dev,
            "contended": int(contended),
            # hypervisor steal % across the whole run (r10 s2): the only
            # guest-visible signal of HOST-side contention — see
            # steal_snapshot for the measured event that motivates it.
            "steal_pct": round(steal, 1),
            # lanes that never saw a steal-clean pass after the r11 retry
            # ladder (steal_all_tainted over every pass) — their minima
            # are host-contaminated; names in the verbose line's
            # steal_flags. 0 on a healthy run.
            "steal_bad": int(steal_bad),
            # lane-local contention (r6): short names of lanes whose
            # bracket kernel readings tripped the 0.60 gate — normally []
            # — discount those lanes' rec_k. Capped at 3 (by descending
            # deviation; was 8 until round 9 session 2 — the cap funds the
            # three new query lanes' budget, and >3 flagged lanes means
            # session-wide load, which `contended`/`ambient` already
            # record); per-lane cal_ms/cal_dev always live in the verbose
            # detail line. A genuinely whole-run load elevates the session
            # base instead and trips `contended`.
            "lane_flags": [
                _short_lane(k)
                for k, _ in sorted(
                    (flags or {}).items(), key=lambda kv: -kv[1]
                )[:3]
            ],
            # session-ambient marker (r7): 1 = the whole run was loaded
            # (start/end loadavg over AMBIENT_LOAD_THRESHOLD) — discount
            # lane_flags as session-wide, not lane-local. See ambient_flag.
            "ambient": ambient_flag(load),
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) >= 1950:
        # Explicit raise, not assert (python -O strips asserts — that would
        # silently reintroduce the r2/r4 truncated-tail failure mode).
        raise RuntimeError(
            f"compact bench line is {len(line)} chars — over the 1950 budget "
            "(driver tail buffer is 2000). Trim lanes/precision before adding more."
        )
    return line

# Headline set: the queries that exercise scan/join/agg/window/dedup/vector
# machinery hardest at sf0.1 (lineitem 600K, events 100K rows).
BENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q4_order_priority_count",
    "q_top_customers_per_nation",
    "q_running_revenue_by_month",
    "q_supplier_rollup",
    "q8_market_share",
    "q9_product_type_profit",
    "q13_order_distribution",
    "t_text_stats",
    "t_url_filter",
    "t_gopher_rules",
    "d_exact_dedup",
    "d_minhash_lsh_dedup",
    "d_simhash",
    "d_shared_shingle_dedup",
    "v_cosine_topk",
    "v_cosine_dedup",
    "m_clip_embedding",
    "e_tumbling_window",
    "e_sessionization",
    "e_first_event_dedup",
    "c_line_dedup",
    "ts_gap_fill",
    # round 3 additions (new lanes, never renames — cross-round continuity)
    "e_markov_transitions",
    "e_scd2_dimension",
    "t_unigram_logprob",
    "x_heavy_hitters",
    "x_salted_skew_join",
    "d_dedup_components_star",
    # round 3 second-batch lanes (new names only — continuity rule)
    "t_bigram_logprob",
    "v_maxsim_topk",
    "x_column_profile",
    # round 4 additions (new names only)
    "q2_argmax_min_price",
    "v_hard_negatives",
    "d_incremental_dedup",
    "e_concurrency_sweep",
    "x_grouping_sets",
    "x_countmin_topk",
    # round 4 session-2 additions
    "e_attribution_credit",
    "d_dedup_savings",
    "g_bfs_hops",
    "v_binary_quantize_rerank",
    # round 9 session-2 additions (new names only — continuity rule):
    # span-level dedup, interleaved multimodal packing, spherical k-means
    "d_dup_span_stats",
    "m_interleave_pack",
    "v_spherical_kmeans",
)


# Canonical throughput-lane registry: every measure() call must use a name
# from this tuple (enforced in _measure_into), and the compact-line budget
# test sizes the worst-case machine line from it — so adding a lane without
# re-checking the 1900-char budget is impossible.
LANES = (
    "url_filter_1m",
    "text_length_filter_1m",
    "exact_dedup_1m",
    "token_count_1m",
    "lang_id_1m",
    "simhash_1m",
    "simhash_1m_md5_oracle",
    "simhash_1m_arrow",
    "winnow_1m",
    "gopher_rules_1m",
    "quality_clf_1m",
    "quality_clf_1m_md5_oracle",
    "pii_redact_1m",
    "image_metadata_100k",
    "technical_quality_100k",
    "phash_100k",
    "jpeg_scrub_100k",
    "resize_100k",
    "html_extract_100k",
    "image_quality_filter_1m",
)


def _measure_into(out: dict, n: int, steal_dirty: list | None = None):
    """Shared lane timer: one warm-up action, then THREE timed runs;
    reports the MEDIAN plus a ``spread`` dispersion field
    ((max-min)/median, rounded) so a regression gate can separate
    scheduler/allocator noise from real signal. r3's min-of-2 recorded
    3.7x-10x phantom swings (gopher 661K->179K, simhash_arrow 737K->72K)
    that idle re-runs disproved — the median of three is noise-robust in
    BOTH directions (min hides sustained regressions, max hides one-off
    stalls).

    r11 steal ritual: the timed triple is bracketed with steal snapshots;
    a triple that ran under >= STEAL_PASS_GATE percent hypervisor steal is
    host-contaminated (medians have no burst protection) and is re-run
    ONCE; the faster-median attempt is kept (steal only slows runs). A
    lane whose every attempt was stolen into lands in ``steal_dirty``."""
    import time as _t

    def _triple(df):
        s0 = steal_snapshot()
        df.count()  # warm-up absorbs per-plan codegen + worker spin-up
        ts = []
        kept = 0
        for _ in range(3):
            t0 = _t.time()
            kept = df.count()
            ts.append(_t.time() - t0)
        ts.sort()
        return ts, kept, steal_pct(s0, steal_snapshot())

    def measure(name, df):
        if name not in LANES:
            raise RuntimeError(f"lane {name!r} missing from bench.LANES")
        # Per-lane sentinel (r6): bracket the triple with two cheap kernel
        # re-timings (min-of-2, short settle ≈ 0.35 s each) so a load burst
        # confined to THIS lane is visible even when the per-group
        # checkpoints read clean (r5: pii_redact 132K / winnow 306K with
        # contended=0). Flags are computed post-hoc by ``lane_flags``
        # against the session-wide minimum reading.
        c_before = calibration_ms(samples=2, settle_s=0.15)
        ts, kept, st = _triple(df)
        steals = [st]
        if steal_all_tainted(steals):
            ts2, kept2, st2 = _triple(df)
            steals.append(st2)
            if ts2[1] < ts[1]:
                ts, kept = ts2, kept2
        if steal_all_tainted(steals) and steal_dirty is not None:
            steal_dirty.append(name)
        c_after = calibration_ms(samples=2, settle_s=0.15)
        med = ts[1]
        out[name] = {
            "cal_ms": [round(c_before, 1), round(c_after, 1)],
            "rows_in": n,
            "rows_out": kept,
            "sec": round(med, 3),
            "rec_per_sec": round(n / med, 1),
            "spread": round((ts[-1] - ts[0]) / med, 2),
            # min-based rate: the statistic r2/r3 reported — kept in the
            # verbose detail line so cross-round series stay comparable
            "rec_per_sec_min": round(n / ts[0], 1),
            "steal": [round(s, 1) for s in steals],
        }

    return measure


def throughput_workloads(
    spark, sf_dir: str, steal_dirty: list | None = None
) -> dict[str, dict[str, float]]:
    """rec/s on ~1M-row text inputs — directly comparable to the
    reference's published operator throughputs (BASELINE.md: URLFilter
    20,362 rec/s, TextLengthFilter 1,976,454 rec/s, exact dedup).

    Input: documents replicated 200x (1M rows at sf0.1) — same text
    distribution, meaningful row count. Each op measured end-to-end
    (scan + op + count)."""

    from pyspark.sql import functions as F

    from webscale_multimodal_datapipeline_spark.functions import text as TX
    from webscale_multimodal_datapipeline_spark.operators import dedup as OD
    from webscale_multimodal_datapipeline_spark.operators import filters as FO
    from webscale_multimodal_datapipeline_spark.operators.dedup import text_exact_dedup
    from webscale_multimodal_datapipeline_spark.operators.filters import (
        text_length_filter,
        url_filter,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(spark.range(200).withColumnRenamed("id", "rep"))
        .withColumn("doc_id", F.col("doc_id") * 1000 + F.col("rep"))
        .drop("rep")
    )
    # The single-file sf0.1 parquet collapses the broadcast cross-join to ONE
    # input split; a real 100 TB table arrives as thousands of splits. Spread
    # the replicated input across the cores so per-op throughput measures the
    # operator, not a self-inflicted single-task bottleneck.
    ncpu = DEFAULT_CPUS
    big = big.repartition(ncpu * 2).persist()
    n = big.count()  # materialize once; ops then measure pure operator cost
    # spin up executor Python workers before any UDF-backed measurement —
    # BOTH kernel entry points, so each lane's cold-start (numpy import +
    # kernel state per worker) lands here and not in a timed run
    big.limit(1000).select(OD.simhash_fast_udf(OD.token_hashes("text"))).count()
    OD.simhash_text_column(big, "text", "sh").count()

    out: dict[str, dict[str, float]] = {}
    measure = _measure_into(out, n, steal_dirty)

    measure("url_filter_1m", url_filter(blocklist=("src1", "src7")).apply(big))
    measure(
        "text_length_filter_1m",
        text_length_filter(100, 450, length_col="n_chars").apply(big),
    )
    measure("exact_dedup_1m", text_exact_dedup().apply(big))
    measure(
        "token_count_1m",
        big.select(TX.token_count("text").alias("tc")).filter(F.col("tc") > 0),
    )
    measure(
        "lang_id_1m",
        big.select(TX.lang_id("text").alias("l")).filter(F.col("l") != "und"),
    )
    # simhash_1m is the PRODUCTION default: JVM-native xxhash64 token
    # hashes + the SWAR vote kernel — stable ~480K rec/s. The md5 lane
    # keeps the cross-engine oracle spec honest (same SimHash semantics,
    # DuckDB-reproducible hashes). The Arrow text-direct lane runs
    # ~620-770K rec/s; its former cross-process bimodality (r2 737K vs
    # r3 414K) was allocator churn from 35 MB unpackbits scratches at
    # 10K-row Arrow batches — fixed by segment-boundary chunking in
    # _simhash_votes_swar (operators/dedup.py, _SWAR_MAX_TOKENS).
    measure(
        "simhash_1m",
        big.withColumn("_th", OD.token_hashes("text", algo="xxhash64"))
        .select(OD.simhash_fast_udf("_th").alias("sh"))
        .filter(F.col("sh") != 0),
    )
    measure(
        "simhash_1m_md5_oracle",
        big.withColumn("_th", OD.token_hashes("text"))
        .select(OD.simhash_fast_udf("_th").alias("sh"))
        .filter(F.col("sh") != 0),
    )
    measure(
        "simhash_1m_arrow",
        OD.simhash_text_column(big, "text", "sh").filter(F.col("sh") != 0),
    )
    # winnowing fingerprint kernel (round-5): production Arrow form
    # (token hashes -> segmented 3-gram mix -> flat w=4 sliding minima ->
    # lexsort distinct; operators/dedup.py::_winnow_fp_block) — the MOSS
    # selection behind t_winnowing_fingerprint. The column-expression
    # spelling of the same selection measured < 1K rec/s (CollapseProject
    # re-inlines tokenization into every per-window element access — the
    # word_shingles PERF pitfall, unavoidable without a Generate barrier);
    # the md5 query form stays the cross-engine oracle spec.
    measure(
        "winnow_1m",
        OD.winnow_fp_count_column(big, "text", "nf").filter(F.col("nf") > 0),
    )
    measure(
        "gopher_rules_1m",
        FO.gopher_flags_column(big, "text").filter(F.col("keep")),
    )
    # quality_clf_1m is now the PRODUCTION default (xxhash64 bucket hash);
    # the md5 oracle-spec kernel keeps its own lane — the SimHash lane
    # split. (r1/r2's "quality_clf_1m" measured the md5 kernel; the rename
    # below preserves that series as quality_clf_1m_md5_oracle.)
    measure(
        "quality_clf_1m",
        big.select(TX.hashed_quality_clf("text")["keep"].alias("k")).filter("k"),
    )
    measure(
        "quality_clf_1m_md5_oracle",
        big.select(
            TX.hashed_quality_clf("text", algo="md5")["keep"].alias("k")
        ).filter("k"),
    )
    from webscale_multimodal_datapipeline_spark.functions import pii as PII

    measure(
        "pii_redact_1m",
        big.select(PII.redact_pii("text").alias("r")).filter(F.length("r") > 0),
    )
    big.unpersist()
    return out


def image_workloads(
    spark, sf_dir: str, steal_dirty: list | None = None
) -> dict[str, dict[str, float]]:
    """Image-operator rec/s — the BASELINE.md image-pipeline rows
    (metadata 27K, technical-quality 2.5K, quality-filter 4.2M, phash
    1.5K rec/s on 1K LAION records). Payloads here are the 64-byte
    deterministic stand-ins (no codecs in the container), so these numbers
    measure the Arrow-UDF machinery + kernel math, not JPEG decode."""

    from pyspark.sql import functions as F

    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM
    from webscale_multimodal_datapipeline_spark.operators.filters import (
        image_quality_filter,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ncpu = DEFAULT_CPUS
    imgs = (
        docs.crossJoin(spark.range(20).withColumnRenamed("id", "rep"))
        .withColumn("doc_id", F.col("doc_id") * 1000 + F.col("rep"))
        .drop("rep")
        .withColumn("image_bytes", MM.fake_image_bytes("text"))
        .repartition(ncpu * 2)
        .select("doc_id", "image_bytes")
        .persist()
    )
    n = imgs.count()
    # Spin up the executor Python workers + Arrow channel once before
    # timing (the reference likewise reports post-warm-up operator rates).
    MM.image_metadata_refiner().apply(imgs.limit(1000)).count()

    out: dict[str, dict[str, float]] = {}
    measure = _measure_into(out, n, steal_dirty)

    meta = MM.image_metadata_refiner().apply(imgs)
    measure("image_metadata_100k", meta.filter(F.col("image_width") >= 0))
    measure(
        "technical_quality_100k",
        MM.technical_quality_refiner().apply(imgs).filter(
            F.col("image_information_entropy") >= 0
        ),
    )
    measure("phash_100k", MM.phash_dedup(imgs))
    # JPEG metadata scrub (real segment-walking surgery over structurally
    # real synthetic JPEGs — reference image ops run 1.5-27K rec/s)
    from webscale_multimodal_datapipeline_spark.plans.multimodal_queries import (
        synthetic_jpeg_bytes,
    )

    jpegs = (
        imgs.select("doc_id", synthetic_jpeg_bytes("doc_id").alias("image_bytes"))
        .persist()
    )
    jpegs.count()
    measure(
        "jpeg_scrub_100k",
        jpegs.select(MM.jpeg_scrub_udf()(F.col("image_bytes")).alias("b")).filter(
            F.length("b") == 41
        ),
    )
    jpegs.unpersist()
    measure("resize_100k", MM.image_resize_refiner().apply(imgs).filter(
        F.length("image_resized_bytes") == 16
    ))
    # html-extract kernel (reference Rust readability: 5,000 doc/s)
    from webscale_multimodal_datapipeline_spark.sources.warc import (
        html_extract_len_udf,
    )

    html = (
        docs.crossJoin(spark.range(20).withColumnRenamed("id", "rep"))
        .withColumn(
            "html",
            F.concat(
                F.lit("<html><head><title>t</title><script>var x=1;</script></head><body><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ).cast("binary"),
        )
        .repartition(ncpu * 2)
        .select("html")
        .persist()
    )
    html.count()
    _ex = html_extract_len_udf()
    measure("html_extract_100k", html.select(_ex("html").alias("n")).filter(F.col("n") > 0))
    html.unpersist()
    # native predicate over precomputed columns (reference: 4.2M rec/s) —
    # computed columns persisted first so the filter is measured alone; at
    # 100K rows the ~0.2s per-job floor dominates, so replicate to 1M.
    enriched = (
        MM.technical_quality_refiner()
        .apply(MM.image_metadata_refiner().apply(imgs))
        .drop("image_bytes")
        .crossJoin(spark.range(10).withColumnRenamed("id", "rep10"))
        .drop("rep10")
        .repartition(ncpu * 2)
    ).persist()
    n = enriched.count()
    measure = _measure_into(out, n, steal_dirty)  # row count changed: rebind the timer
    measure(
        "image_quality_filter_1m",
        image_quality_filter(64, 64, 1.0, 1.0).apply(enriched),
    )
    enriched.unpersist()
    imgs.unpersist()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0
    spark = get_spark("bench")

    load = [os.getloadavg()[0]]
    cal = [calibration_ms()]
    steal0 = steal_snapshot()

    # Warm up the JVM / parquet footer cache with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    per_query: dict[str, float] = {}
    first_pass: dict[str, float] = {}
    query_steal: dict[str, list[float]] = {}
    steal_dirty: list[str] = []
    total = 0.0
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        # Best-of-N minima (r10, see headline_extra_run): two timed passes,
        # a third only when they disagree past the gate; record the min.
        # Each pass rebuilds the plan from the registry callable — internal
        # persists hang off the new DataFrame objects, so a later pass
        # re-executes the full operator chain (only JVM codegen + parquet
        # footer caches are warm, which is the steady state we want).
        # r11: every pass is bracketed with steal snapshots; when ALL
        # passes were stolen into (>= STEAL_PASS_GATE %), up to
        # MAX_STEAL_EXTRA extra passes chase a steal-clean window — steal
        # can only slow a pass, so the min over all passes stays valid and
        # a clean pass under the min makes it trustworthy.
        ts: list[float] = []
        steals: list[float] = []
        n = 0

        def _one_pass():
            nonlocal n
            s0 = steal_snapshot()
            t0 = time.time()
            # count() forces full execution of every operator in the plan.
            n = fn(spark, sf_dir).count()
            ts.append(time.time() - t0)
            steals.append(steal_pct(s0, steal_snapshot()))

        for _ in range(2):
            _one_pass()
        if headline_extra_run(ts[0], ts[1]):
            _one_pass()
        for _ in range(MAX_STEAL_EXTRA):
            if not steal_all_tainted(steals):
                break
            _one_pass()
        if steal_all_tainted(steals):
            steal_dirty.append(name)
        dt = min(ts)
        per_query[name] = round(dt, 3)
        first_pass[name] = round(ts[0], 3)
        query_steal[name] = [round(s, 1) for s in steals]
        total += dt
        print(
            f"# {name}: {n} rows in {dt:.2f}s"
            f" (passes {[round(t, 2) for t in ts]},"
            f" steal {[round(s, 1) for s in steals]})",
            file=sys.stderr,
        )

    # Drain state left by the headline queries before the throughput
    # lanes: cached plans (operator split() caches), localCheckpoint RDDs
    # from the iterative components queries, and the lazy Python-side
    # references that keep them alive. Without this the lanes measure a
    # heap under GC pressure from 35 unrelated queries (observed: the
    # arrow simhash lane at 86K rec/s in-bench vs 618K on the same code
    # in a clean session), which is contention noise, not operator cost.
    spark.catalog.clearCache()
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — JVM GC nudge is best-effort
        pass

    cal.append(calibration_ms())  # after headline walls, before text lanes
    tp = throughput_workloads(spark, sf_dir, steal_dirty)
    cal.append(calibration_ms())  # between text lanes and image lanes
    tp.update(image_workloads(spark, sf_dir, steal_dirty))
    cal.append(calibration_ms())
    load.append(os.getloadavg()[0])
    steal = steal_pct(steal0, steal_snapshot())
    flags = lane_flags(tp)  # annotates each lane's cal_dev in place
    for name, m in tp.items():
        flag = f" [CONTENDED dev={flags[name]}]" if name in flags else ""
        print(f"# {name}: {m['rec_per_sec']:.0f} rec/s ({m['rows_in']} rows in {m['sec']}s){flag}", file=sys.stderr)

    # Verbose record first (full per-lane detail) — consumed by humans/tools
    # that read the whole log. The driver stores only a bounded (~4 KB) tail
    # of combined output, so this big line must NOT be last: in round 2 it
    # was, outgrew the tail buffer, and BENCH_r02.json came back
    # `parsed: null`.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                # the pre-r10 statistic (single first pass, includes
                # codegen) — kept so cross-round series stay comparable
                # across the r10 method change to best-of-N minima.
                "queries_first_pass": first_pass,
                "throughput": tp,
                "sf": sf,
                # Methodology note: each throughput lane reports the median
                # of 3 timed runs after a warm-up run, plus per-lane
                # spread=(max-min)/median; r1 used a single timed run and
                # r2-r3 min-of-2. Headline walls are min of 2-3 passes
                # since r10 (single pass r1-r9) — see headline_extra_run.
                "method": "headline=min_of_2_3_adaptive;throughput=median_of_3_after_warmup",
                "load_1min": [round(x, 2) for x in load],
                "calibration_ms": [round(c, 1) for c in cal],
                "steal_pct": steal,
                # r11 steal ritual detail: per-headline-lane per-pass steal
                # readings, and the lanes (headline + throughput) that
                # never saw one steal-clean pass after retries.
                "queries_steal": query_steal,
                "steal_flags": steal_dirty,
            }
        )
    )
    sys.stdout.flush()

    # Compact machine line LAST — must always fit the driver's tail buffer.
    # Per-query walls (the brief's required "queries" map) + per-lane rec/s
    # in integer thousands + the contention sentinel; per-lane spread and
    # full row/sec detail live in the verbose line above (r5 budget fix —
    # the r4 line outgrew the 2,000-char tail and recorded `parsed: null`).
    print(compact_line(total, per_query, tp, sf, load, cal, flags, steal=steal,
                       steal_bad=len(steal_dirty)))
    sys.stdout.flush()

    # Refuse-to-record ritual, r10 form (VERDICT r9 task 5): with per-query
    # best-of-N minima the record is burst-robust, so moderate contention
    # (the r9 driver session: cal_dev 0.69) records in-band minima WITH its
    # sentinel flags instead of refusing. Only severe sustained load — the
    # measured band of every true contention event (cal_dev >= 2.0, or a
    # start loadavg >= 8 like the r4 catastrophic session) — still exits 3,
    # because there even minima measure the machine. Probe tools keep the
    # stricter r9 ritual (they have no best-of-N). Env overrides unchanged.
    if should_refuse_bench(cal, load, steal=steal, steal_bad=len(steal_dirty)):
        dev, _ = contention_flag(cal)
        print(
            f"# SEVERELY CONTENDED bench run (cal_dev {dev}, load_start"
            f" {load[0]:.2f}, steal {steal}% with {len(steal_dirty)}"
            f" steal-dirty lanes {steal_dirty}): even best-of-N minima are"
            " machine artifacts — rerun on an idle session or set"
            " SPARK_GRAFT_BENCH_ALLOW_CONTENDED=1",
            file=sys.stderr,
        )
        sys.exit(3)


if __name__ == "__main__":
    main()
