"""Figure rendering for the summary ledger (reference parity).

The reference ships bar-chart reporting over summary.csv
(/root/reference/scripts/make_plots.py:27-161: keep-last per
(dataset, mode, calibration), canonical order, one bar chart each for
p95_ms / p99_ms / eps with per-bar value labels, dashed y-grid,
thousands-separated eps axis). matplotlib is not available in this
environment, so the renderer is a dependency-free SVG writer that
reproduces the same data shaping and chart semantics: single-series
bars in one hue (#1f77b4 — validated for lightness/chroma/contrast on
a light surface), recessive dashed grid, baseline axis, headroom
ymax*1.15, NA rows skipped. Per-bar value labels ('%.1f') are kept for
byte-level parity with the reference's draw() even though they label
every mark.

Data shaping is reporting.latest_per_config + canonical_sort, the
reference table's row selection.
"""

from __future__ import annotations

import os
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from . import reporting

BAR_COLOR = "#1f77b4"
GRID_COLOR = "#b0b0b0"
INK = "#1f1f1f"
MUTED_INK = "#555555"

METRICS = [
    ("p95_ms", "p95 latency (ms)", "latency_p95_ms.svg"),
    ("p99_ms", "p99 latency (ms)", "latency_p99_ms.svg"),
    ("eps", "events/s", "throughput_eps.svg"),
]


def _to_float(x) -> float | None:
    try:
        v = float(x)
    except (TypeError, ValueError):
        return None
    return v


def _fmt_tick(metric: str, v: float) -> str:
    # eps axis uses thousands separators (make_plots.py:64-65)
    return f"{v:,.0f}" if metric == "eps" else f"{v:.1f}"


def _nice_ticks(ymax: float, n: int = 5) -> list[float]:
    """0..ymax at a 1/2/5*10^k step, at most ~n+1 ticks."""
    import math

    if ymax <= 0:
        return [0.0, 1.0]
    raw = ymax / n
    mag = 10 ** math.floor(math.log10(raw))
    step = next(m * mag for m in (1, 2, 5, 10) if raw <= m * mag)
    return [i * step for i in range(int(ymax / step) + 1)]


def _svg_open(width: int, height: int) -> list[str]:
    """SVG header + background."""
    return [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}" font-family="Helvetica, Arial, sans-serif">',
        f'<rect width="{width}" height="{height}" fill="#fcfcfb"/>',
    ]


def _tick_grid(parts, ticks, sy, ml, plot_w, metric) -> None:
    """Recessive dashed y-grid behind the marks (axisbelow + grid '--')
    with right-aligned tick labels."""
    for t in ticks:
        y = sy(t)
        parts.append(
            f'<line x1="{ml}" y1="{y:.1f}" x2="{ml + plot_w}" y2="{y:.1f}" '
            f'stroke="{GRID_COLOR}" stroke-width="1" stroke-dasharray="5,4" opacity="0.35"/>'
        )
        parts.append(
            f'<text x="{ml - 8}" y="{y + 4:.1f}" text-anchor="end" font-size="12" '
            f'fill="{MUTED_INK}">{_fmt_tick(metric, t)}</text>'
        )


def _axis_and_ylabel(parts, ml, mt, plot_w, plot_h, ylabel) -> None:
    """Baseline x-axis + rotated y-axis label."""
    parts.append(
        f'<line x1="{ml}" y1="{mt + plot_h}" x2="{ml + plot_w}" y2="{mt + plot_h}" '
        f'stroke="{INK}" stroke-width="1.2"/>'
    )
    parts.append(
        f'<text x="18" y="{mt + plot_h / 2:.1f}" font-size="13" fill="{INK}" '
        f'transform="rotate(-90 18 {mt + plot_h / 2:.1f})" text-anchor="middle">'
        f"{escape(ylabel)}</text>"
    )


def _write_svg(parts: list[str], out_path: str) -> str:
    parts.append("</svg>")
    svg = "\n".join(parts)
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(svg + "\n")
    return svg


def render_bar_svg(
    labels: list[str],
    values: list[float],
    ylabel: str,
    metric: str,
    out_path: str,
) -> str:
    """One single-series bar chart as an SVG string (also written to
    out_path). Geometry mirrors make_plots.draw: bar width 0.62 of the
    slot, ylim [0, max*1.15], per-bar '%.1f' labels."""
    n = len(values)
    if n == 0:
        raise ValueError("no numeric values to plot")
    slot, bar_w = 110, 68  # 0.62 ratio
    ml, mr, mt, mb = 90, 20, 30, 70
    plot_w, plot_h = slot * n, 340
    width, height = ml + plot_w + mr, mt + plot_h + mb
    # clamp to a positive floor so an all-zero series renders a flat
    # chart instead of dividing by zero in sy() (matplotlib's ylim
    # handles the all-zero case gracefully; so do we)
    ymax = max(max(values), 1e-9) * 1.15
    ticks = _nice_ticks(max(values))

    def sy(v: float) -> float:  # value -> y pixel
        return mt + plot_h - (v / ymax) * plot_h

    parts = _svg_open(width, height)
    _tick_grid(parts, ticks, sy, ml, plot_w, metric)
    # bars + per-bar value labels (reference parity)
    for i, (lab, v) in enumerate(zip(labels, values)):
        x = ml + i * slot + (slot - bar_w) / 2
        y = sy(v)
        parts.append(
            f'<rect x="{x:.1f}" y="{y:.1f}" width="{bar_w}" height="{mt + plot_h - y:.1f}" '
            f'fill="{BAR_COLOR}" rx="2"/>'
        )
        parts.append(
            f'<text x="{x + bar_w / 2:.1f}" y="{y - 5:.1f}" text-anchor="middle" '
            f'font-size="12" fill="{INK}">{v:.1f}</text>'
        )
        for j, line in enumerate(lab.split("\n")):
            parts.append(
                f'<text x="{x + bar_w / 2:.1f}" y="{mt + plot_h + 22 + j * 15}" '
                f'text-anchor="middle" font-size="12" fill="{INK}">{escape(line)}</text>'
            )
    _axis_and_ylabel(parts, ml, mt, plot_w, plot_h, ylabel)
    return _write_svg(parts, out_path)


def make_plots(summary: DataFrame, outdir: str) -> dict[str, str]:
    """The reference's three figures from a summary DataFrame:
    keep-last per config, canonical order, NA rows skipped per metric
    (make_plots.py:70-75,128-161). Returns metric -> file path. The
    summary frame is report-sized (one row per run config) so the
    collect is trivially bounded."""
    shaped = reporting.canonical_sort(reporting.latest_per_config(summary))
    rows = shaped.collect()
    out: dict[str, str] = {}
    for metric, ylabel, fname in METRICS:
        labels, values = [], []
        for r in rows:
            v = _to_float(r[metric])
            if v is None:
                continue  # skip NA (make_plots.py:73-75)
            labels.append(f"{r['dataset']}\n{r['mode']}/{r['calibration']}")
            values.append(v)
        if not values:
            continue
        path = os.path.join(outdir, fname)
        render_bar_svg(labels, values, ylabel, metric, path)
        out[metric] = path
    return out
