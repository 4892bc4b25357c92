"""HTML metrics report — the render layer over the A3 analytics queries.

The reference emits a plotly HTML report (funnel, Sankey, timeline,
bottleneck, latency heatmap — ``framework/metrics/reporter.py:126-1314``).
Here the same report sections are rendered as dependency-free static HTML:
the *analytics* are the funnel / bottleneck Spark SQL aggregates and the
stage / run rollups in ``metrics.py``; only their tiny driver-side results
are formatted. Pass-rate "charts" are inline-CSS bars, so the file opens
anywhere with no JS.

Collecting here is correct, not a hot-path anti-pattern: the inputs are
per-(stage, operator) aggregate rows — dozens of rows regardless of how
many trillions of records the run processed.
"""

from __future__ import annotations

import html as _html
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.metrics import (
    bottleneck_report,
    funnel_report,
    run_metrics_df,
    stage_metrics_df,
)

_CSS = """
body { font-family: -apple-system, 'Segoe UI', sans-serif; margin: 2em; color: #222; }
h1 { border-bottom: 2px solid #444; padding-bottom: .2em; }
h2 { margin-top: 1.6em; color: #333; }
table { border-collapse: collapse; margin-top: .6em; }
th, td { border: 1px solid #ccc; padding: .35em .7em; text-align: right; }
th { background: #f0f0f0; }
td.name, th.name { text-align: left; }
.bar { background: #4a90d9; height: 12px; display: inline-block; vertical-align: middle; }
.barbox { width: 160px; background: #eee; display: inline-block; }
.muted { color: #888; font-size: .85em; }
"""


def _esc(v) -> str:
    return _html.escape("" if v is None else str(v))


def _fmt(v) -> str:
    if v is None:
        return "—"
    if isinstance(v, float):
        return f"{v:,.3f}"
    return f"{v:,}"


def _pass_bar(rate: float | None) -> str:
    r = 0.0 if rate is None else max(0.0, min(float(rate), 1.0))
    return (
        f'<span class="barbox"><span class="bar" style="width:{r * 160:.0f}px">'
        f"</span></span> {r:6.1%}"
    )


def _table(headers: list[str], rows: list[list[str]], name_cols: int = 1) -> str:
    head = "".join(
        f'<th class="name">{h}</th>' if i < name_cols else f"<th>{h}</th>"
        for i, h in enumerate(headers)
    )
    body = "".join(
        "<tr>"
        + "".join(
            f'<td class="name">{c}</td>' if i < name_cols else f"<td>{c}</td>"
            for i, c in enumerate(r)
        )
        + "</tr>"
        for r in rows
    )
    return f"<table><tr>{head}</tr>{body}</table>"


def _svg_sankey(funnel_rows) -> str:
    """Operator-flow Sankey as dependency-free inline SVG (reference
    ``reporter.py:762-906`` node semantics: Input → per-stage filter nodes
    for each dropping operator + a stage-output node → Output; link width
    ∝ record flow)."""
    stages: list[tuple[str, list]] = []
    for r in funnel_rows:
        if not stages or stages[-1][0] != r.stage_name:
            stages.append((r.stage_name, []))
        stages[-1][1].append(r)
    if not stages:
        return "<p class='muted'>no flow data</p>"
    total_in = max((r.total_input or 0) for _, ops in stages for r in ops) or 1
    width, height = 960, 150 + 60 * max(len(ops) for _, ops in stages)
    col_w = width // (len(stages) + 2)
    mid_y = height // 2

    def _w(v) -> float:  # link stroke width ∝ share of input, 1..18px
        return 1.0 + 17.0 * min(1.0, (v or 0) / total_in)

    parts = [
        f"<svg viewBox='0 0 {width} {height}' width='{width}' "
        f"xmlns='http://www.w3.org/2000/svg' font-size='11'>"
    ]
    # Input node
    parts.append(
        f"<rect x='4' y='{mid_y - 22}' width='{col_w - 30}' height='44' fill='#3498db' rx='4'/>"
        f"<text x='10' y='{mid_y}' fill='#fff'>Input {total_in:,}</text>"
    )
    prev_x, prev_y, flow = col_w - 26, mid_y, total_in
    for si, (stage, ops) in enumerate(stages):
        x = (si + 1) * col_w + 4
        fy = 30
        for r in ops:
            dropped = (r.total_input or 0) - (r.total_output or 0)
            if dropped <= 0:
                continue
            # link into the filter node, then the node itself
            parts.append(
                f"<line x1='{prev_x}' y1='{prev_y}' x2='{x}' y2='{fy + 14}' "
                f"stroke='#95a5a6' stroke-opacity='0.5' stroke-width='{_w(dropped):.1f}'/>"
                f"<rect x='{x}' y='{fy}' width='{col_w - 30}' height='28' fill='#95a5a6' rx='4'/>"
                f"<text x='{x + 4}' y='{fy + 12}' fill='#fff'>{_esc(r.operator_name)[:22]}</text>"
                f"<text x='{x + 4}' y='{fy + 24}' fill='#fff'>-{dropped:,}</text>"
            )
            fy += 60
        out = min((r.total_output or 0) for r in ops)
        oy = height - 70
        parts.append(
            f"<line x1='{prev_x}' y1='{prev_y}' x2='{x}' y2='{oy + 22}' "
            f"stroke='#667eea' stroke-opacity='0.5' stroke-width='{_w(out):.1f}'/>"
            f"<rect x='{x}' y='{oy}' width='{col_w - 30}' height='44' fill='#667eea' rx='4'/>"
            f"<text x='{x + 4}' y='{oy + 18}' fill='#fff'>{_esc(stage)[:22]}</text>"
            f"<text x='{x + 4}' y='{oy + 34}' fill='#fff'>{out:,}</text>"
        )
        prev_x, prev_y, flow = x + col_w - 30, oy + 22, out
    # Output node
    x = (len(stages) + 1) * col_w + 4
    parts.append(
        f"<line x1='{prev_x}' y1='{prev_y}' x2='{x}' y2='{mid_y}' "
        f"stroke='#27ae60' stroke-opacity='0.6' stroke-width='{_w(flow):.1f}'/>"
        f"<rect x='{x}' y='{mid_y - 22}' width='{col_w - 10}' height='44' fill='#27ae60' rx='4'/>"
        f"<text x='{x + 4}' y='{mid_y}' fill='#fff'>Output {flow:,}</text>"
    )
    parts.append("</svg>")
    return "".join(parts)


def _svg_timeline(stage_rows) -> str:
    """Stage-execution timeline as horizontal offset bars (reference
    ``reporter.py:908-948``): each stage starts at the cumulative duration
    of the stages before it; bar length ∝ ``total_time``."""
    rows = [r for r in stage_rows if r.total_time is not None]
    if not rows:
        return "<p class='muted'>no timing data</p>"
    total = sum(float(r.total_time) for r in rows) or 1.0
    width, bar_h, label_w = 860, 24, 180
    height = (bar_h + 8) * len(rows) + 30
    scale = (width - label_w - 80) / total
    parts = [
        f"<svg viewBox='0 0 {width} {height}' width='{width}' "
        f"xmlns='http://www.w3.org/2000/svg' font-size='11'>"
    ]
    start = 0.0
    for i, r in enumerate(rows):
        y = 10 + i * (bar_h + 8)
        x = label_w + start * scale
        w = max(2.0, float(r.total_time) * scale)
        parts.append(
            f"<text x='4' y='{y + 16}'>{_esc(r.stage_name)[:28]}</text>"
            f"<rect x='{x:.1f}' y='{y}' width='{w:.1f}' height='{bar_h}' "
            f"fill='rgb({50 + i * 40 % 200},{100 + i * 30 % 150},{max(60, 200 - i * 20)})' rx='3'/>"
            f"<text x='{x + w + 6:.1f}' y='{y + 16}'>{float(r.total_time):.2f}s</text>"
        )
        start += float(r.total_time)
    parts.append("</svg>")
    return "".join(parts)


_LAT_KEYS = ("min", "p50", "p95", "p99", "max")


def _heatmap_table(lat_rows) -> str:
    """Latency percentile heatmap (reference ``reporter.py:1014-1057``):
    operator × [min, p50, p95, p99, max] grid, cell color green→red by
    value relative to the grid max."""
    vals = [
        getattr(r, f"{k}_latency")
        for r in lat_rows
        for k in _LAT_KEYS
        if getattr(r, f"{k}_latency") is not None
    ]
    if not vals:
        return "<p class='muted'>no latency data (status store empty)</p>"
    vmax = max(vals) or 1.0

    def _cell(v) -> str:
        if v is None:
            return "<td class='muted'>—</td>"
        t = min(1.0, float(v) / vmax)  # 0 → green, 1 → red (RdYlGn_r)
        red, green = int(80 + 175 * t), int(200 - 140 * t)
        return (
            f"<td style='background: rgb({red},{green},80); color:#fff'>"
            f"{float(v):.3f}s</td>"
        )

    head = "<tr><th class='name'>operator</th>" + "".join(
        f"<th>{k}</th>" for k in _LAT_KEYS
    ) + "</tr>"
    body = "".join(
        f"<tr><td class='name'>{_esc(r.operator_name)}</td>"
        + "".join(_cell(getattr(r, f"{k}_latency")) for k in _LAT_KEYS)
        + "</tr>"
        for r in lat_rows
    )
    return f"<table>{head}{body}</table>"


def render_html_report(
    operators: DataFrame,
    title: str = "Pipeline Report",
    rejected: DataFrame | None = None,
    debug_samples_per_operator: int = 20,
    expectations: DataFrame | None = None,
    enforced_expectations: tuple[str, ...] = (),
) -> str:
    """Render the funnel / bottleneck / stage-rollup sections from the
    operators metrics table (the ``operators_*.parquet`` shape).

    ``rejected`` (the pipeline's rejected side-output) adds a debug
    section with up to ``debug_samples_per_operator`` sample rows per
    rejecting operator (reference ``config.py:120`` /
    ``reporter.py:132-168`` semantics) — sampled with ONE partitioned
    window pass, not a job per operator.

    ``expectations`` (the ``quality.evaluate`` report — one row per
    declared constraint) adds a data-quality section with per-constraint
    violation counts; names listed in ``enforced_expectations`` render
    with the ``enforce`` action (their failing rows were dropped from
    the output), the rest as ``report`` — the warn/drop split the
    rejected-samples section draws for operators (reference
    ``reporter.py`` rejected-shape)."""
    stages = stage_metrics_df(operators)
    runs = run_metrics_df(operators, stages).collect()
    funnel = funnel_report(operators).orderBy("first_seen", "stage_name").collect()
    bottleneck = bottleneck_report(operators).collect()
    stage_rows = stages.orderBy("stage_name").collect()

    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head><body>",
        f"<h1>{_esc(title)}</h1>",
        f"<p class='muted'>generated {time.strftime('%Y-%m-%d %H:%M:%S')}</p>",
    ]

    # Run summary (reporter.py run header semantics)
    parts.append("<h2>Run summary</h2>")
    parts.append(
        _table(
            ["run", "stages", "input", "output", "pass rate", "duration (s)"],
            [
                [
                    _esc(r.run_id),
                    _fmt(r.num_stages),
                    _fmt(r.total_input_records),
                    _fmt(r.total_output_records),
                    _pass_bar(r.overall_pass_rate),
                    _fmt(r.duration),
                ]
                for r in runs
            ],
        )
    )

    # Funnel (reporter.py:689-701): input→output per operator in pipeline order
    parts.append("<h2>Funnel</h2>")
    parts.append(
        _table(
            ["stage", "operator", "input", "output", "pass rate"],
            [
                [
                    _esc(r.stage_name),
                    _esc(r.operator_name),
                    _fmt(r.total_input),
                    _fmt(r.total_output),
                    _pass_bar(r.mean_pass_rate),
                ]
                for r in funnel
            ],
            name_cols=2,
        )
    )

    # Stage rollups (timeline stand-in: stage totals in order)
    parts.append("<h2>Stages</h2>")
    parts.append(
        _table(
            ["stage", "operators", "input", "output", "pass rate", "bottleneck time (s)"],
            [
                [
                    _esc(r.stage_name),
                    _fmt(r.num_operators),
                    _fmt(r.input_records),
                    _fmt(r.output_records),
                    _pass_bar(r.pass_rate),
                    _fmt(r.total_time),
                ]
                for r in stage_rows
            ],
        )
    )

    # Rejection flow (reporter.py Sankey semantics as a table): every
    # operator's drop count + share of total input — where rows went
    total_in = max((r.total_input for r in funnel), default=0) or 1
    drops = [
        (r.stage_name, r.operator_name, r.total_input - r.total_output)
        for r in funnel
        if (r.total_input or 0) > (r.total_output or 0)
    ]
    parts.append("<h2>Rejection flow</h2>")
    parts.append(
        _table(
            ["stage", "operator", "rejected", "share of input"],
            [
                [
                    _esc(s),
                    _esc(o),
                    _fmt(d),
                    _pass_bar(d / total_in),
                ]
                for s, o, d in sorted(drops, key=lambda x: -x[2])
            ],
            name_cols=2,
        )
    )

    # Waterfall (reporter.py waterfall chart): surviving rows after each
    # operator, in pipeline order
    parts.append("<h2>Waterfall</h2>")
    parts.append(
        _table(
            ["stage", "operator", "rows remaining", "of input"],
            [
                [
                    _esc(r.stage_name),
                    _esc(r.operator_name),
                    _fmt(r.total_output),
                    _pass_bar((r.total_output or 0) / total_in),
                ]
                for r in funnel
            ],
            name_cols=2,
        )
    )

    # Bottleneck (reporter.py:962): slowest operators first
    parts.append("<h2>Bottlenecks</h2>")
    parts.append(
        _table(
            ["operator", "mean throughput (rec/s)", "mean time (s)"],
            [
                [_esc(r.operator_name), _fmt(r.mean_throughput), _fmt(r.mean_time)]
                for r in bottleneck
            ],
        )
    )

    # Dataflow Sankey (reporter.py:762-906): Input → per-stage filter
    # nodes + stage output → Output, link width ∝ records
    parts.append("<h2>Dataflow (Sankey)</h2>")
    parts.append(_svg_sankey(funnel))

    # Stage timeline (reporter.py:908-948): cumulative-offset bars
    parts.append("<h2>Stage timeline</h2>")
    parts.append(_svg_timeline(stage_rows))

    # Latency heatmap (reporter.py:1014-1057): operator × percentile grid
    lat_rows = (
        operators.groupBy("operator_name")
        .agg(
            *[
                F.avg(f"{k}_latency").alias(f"{k}_latency")
                for k in _LAT_KEYS
            ]
        )
        .orderBy("operator_name")
        .collect()
    )
    parts.append("<h2>Latency heatmap</h2>")
    parts.append(_heatmap_table(lat_rows))

    # Data-quality expectations (quality.py evaluate() shape): one row
    # per declared constraint — violation counts from the single
    # aggregation pass, action column showing the warn/drop outcome.
    if expectations is not None:
        exp_rows = expectations.orderBy("expectation").collect()
        enforced = set(enforced_expectations)
        parts.append("<h2>Data-quality expectations</h2>")
        parts.append(
            _table(
                ["expectation", "action", "rows", "violations", "violation rate", "status"],
                [
                    [
                        _esc(r.expectation),
                        "enforce (rows dropped)" if r.expectation in enforced else "report",
                        _fmt(r.n_rows),
                        _fmt(r.n_violations),
                        _pass_bar(r.violation_rate),
                        "PASS" if r.passed else "VIOLATIONS",
                    ]
                    for r in exp_rows
                ],
            )
        )

    # Rejected-sample debug section (reference reporter.py:132-168).
    # The sample is ARBITRARY (first-seen rows, partition order) — it is a
    # debug peek, not a statistical sample. Plan shape: each partition is
    # truncated to ≤N rows per operator first (mapInPandas, no shuffle), so
    # the groupBy only ever shuffles ≤ N×partitions rows per operator — the
    # full rejected side-output is never sorted or windowed globally.
    if rejected is not None and debug_samples_per_operator > 0:
        from webscale_multimodal_datapipeline_spark.operators.base import (
            REJECTION_COL,
        )

        cap = debug_samples_per_operator

        def _truncate(batches):
            seen: dict[str, int] = {}
            for pdf in batches:
                ops = pdf[REJECTION_COL].map(
                    lambda d: d.get("operator") if d else None
                )
                keep = []
                for i, op in enumerate(ops):
                    if seen.get(op, 0) < cap:
                        seen[op] = seen.get(op, 0) + 1
                        keep.append(i)
                if keep:
                    yield pdf.iloc[keep]

        truncated = rejected.mapInPandas(_truncate, rejected.schema)
        grouped = (
            truncated.groupBy(
                F.col(f"{REJECTION_COL}.operator").alias("_op")
            )
            .agg(
                F.slice(
                    F.collect_list(F.struct(*rejected.columns)), 1, cap
                ).alias("_rows")
            )
            .collect()
        )
        by_op: dict[str, list] = {}
        for g in grouped:
            for r in g._rows:
                det = r[REJECTION_COL]
                by_op.setdefault(g._op, []).append((det["reason"], r))
        parts.append("<h2>Rejected samples (debug)</h2>")
        show_cols = [c for c in (rejected.columns) if c != REJECTION_COL][:6]
        for op_name in sorted(by_op):
            parts.append(f"<h3>{_esc(op_name)}</h3>")
            parts.append(
                _table(
                    ["reason", *show_cols],
                    [
                        [
                            _esc(reason),
                            *[
                                _esc(str(row[c])[:80]) if row[c] is not None else ""
                                for c in show_cols
                            ],
                        ]
                        for reason, row in by_op[op_name]
                    ],
                )
            )

    parts.append("</body></html>")
    return "".join(parts)


def write_html_report(
    operators: DataFrame,
    path: str,
    title: str = "Pipeline Report",
    rejected: DataFrame | None = None,
    debug_samples_per_operator: int = 20,
    expectations: DataFrame | None = None,
    enforced_expectations: tuple[str, ...] = (),
) -> str:
    """Render and write the report; returns the path."""
    html_text = render_html_report(
        operators,
        title,
        rejected=rejected,
        debug_samples_per_operator=debug_samples_per_operator,
        expectations=expectations,
        enforced_expectations=enforced_expectations,
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(html_text)
    return path
