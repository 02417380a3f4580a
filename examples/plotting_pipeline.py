"""Driver-side rendering of the reference's figure set (S7 closure).

The engine deliberately excludes pixel generation from the query gate
(SURVEY §2.1): every plot PANEL is a hash-gated DataFrame instead
(``qq_plot``, ``histogram_fit``, ``rolling_stats``, ``pr_curve``,
``seasonal_heatmap``, ``m4_downsample``).  This example closes the last
mile the way a user of the reference would: ``toPandas()`` the
already-small panel frames on the driver and draw the same figures as
``src/plotting.py:8-76`` / ``src/kalman_model.py:119-143`` —

- residual_qq.png          (plotting.py:17-23, stats.probplot)
- residual_hist.png        (plotting.py:25-40, hist + norm.fit overlay)
- residual_rolling_std.png (plotting.py:42-49, rolling std line)
- pr_curve.png             (plotting.py:52-76, PR curve + AP)
- seasonal_heatmap.png     (hour-of-day x day-of-week profile grid)
- series_m4.png            (the constant-egress M4 frame that replaces
                            full-resolution line plots at 100 TB)

Every frame is bounded (quantile grid / 50 bins / 256 buckets / 168
cells) regardless of input size, so this render path costs O(panels),
not O(data) — the only scale-sane way to plot a 100 TB series.

matplotlib is optional (absent in this container): without it the
panels are written as CSVs next to where the PNGs would go, so the
pipeline — Spark plans, panel extraction, driver transfer — still runs
end-to-end and the figures can be drawn later from the CSVs.

Usage: python examples/plotting_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from time_series_data_anomaly_detection_spark import get_spark  # noqa: E402

try:
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except Exception:  # matplotlib not installed — CSV fallback
    HAVE_MPL = False


def build_panels(spark, sf_dir: str) -> dict:
    """Run the six gated panel queries and pull each (small) frame to
    the driver.  Import here so the example works from a clean CWD."""
    from time_series_data_anomaly_detection_spark.plans.registry import (
        queries,
    )

    qs = queries()
    panels = {
        "qq": "qq_plot",
        "hist": "histogram_fit",
        "rolling": "rolling_stats",
        "pr": "pr_curve",
        "heatmap": "seasonal_heatmap",
        "m4": "m4_downsample",
    }
    return {
        panel: qs[name](spark, sf_dir).toPandas()
        for panel, name in panels.items()
    }


def render(panels: dict, out_dir: str) -> list[str]:
    """Draw the reference figure set from the panel frames; one figure
    per panel, first series only (the reference plots per-file too).
    Returns the list of files written."""
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []

    def save(name: str) -> None:
        path = os.path.join(out_dir, name)
        plt.tight_layout()
        plt.savefig(path, dpi=120)
        plt.close()
        written.append(path)

    def first_series(pdf):
        sid = sorted(pdf["series_id"].unique())[0]
        return sid, pdf[pdf["series_id"] == sid]

    # 1. QQ plot (plotting.py:17-23)
    sid, qq = first_series(panels["qq"])
    plt.figure(figsize=(6, 6))
    plt.scatter(qq["theoretical_q"], qq["sample_q"], s=8, alpha=0.7)
    lo = min(qq["theoretical_q"].min(), qq["sample_q"].min())
    hi = max(qq["theoretical_q"].max(), qq["sample_q"].max())
    plt.plot([lo, hi], [lo, hi], "r--", lw=1)
    plt.xlabel("theoretical quantiles")
    plt.ylabel("sample quantiles")
    plt.title(f"{sid} - Residual QQ Plot")
    save("residual_qq.png")

    # 2. Histogram + normal fit overlay (plotting.py:25-40)
    sid, h = first_series(panels["hist"])
    h = h.sort_values("bin")
    width = (
        (h["bin_center"].iloc[1] - h["bin_center"].iloc[0])
        if len(h) > 1
        else 1.0
    )
    plt.figure(figsize=(10, 6))
    plt.bar(
        h["bin_center"], h["density"], width=width * 0.95,
        alpha=0.7, color="blue", edgecolor="black",
    )
    plt.plot(h["bin_center"], h["normal_pdf"], "k", lw=2)
    plt.title(
        f"{sid} - Residual Hist (Kurtosis={h['kurtosis'].iloc[0]:.2f})"
    )
    save("residual_hist.png")

    # 3. Rolling volatility (plotting.py:42-49)
    sid, r = first_series(panels["rolling"])
    r = r.sort_values("rn")
    plt.figure(figsize=(12, 6))
    plt.plot(r["rn"], r["roll_std"], color="orange", label="Rolling Std (48)")
    plt.title(f"{sid} - Rolling Volatility")
    plt.legend()
    save("residual_rolling_std.png")

    # 4. PR curve (plotting.py:52-76)
    sid, pr = first_series(panels["pr"])
    pr = pr.sort_values("recall")
    plt.figure(figsize=(8, 6))
    plt.plot(pr["recall"], pr["precision"], color="darkorange", lw=2)
    plt.xlabel("Recall")
    plt.ylabel("Precision")
    plt.title(f"{sid} - Precision-Recall Curve")
    plt.grid(True, alpha=0.3)
    save("pr_curve.png")

    # 5. Seasonal heatmap (hod x dow mean grid)
    sid, hm = first_series(panels["heatmap"])
    grid = hm.pivot_table(index="hod", columns="dow", values="cell_mean")
    plt.figure(figsize=(6, 8))
    plt.imshow(grid.to_numpy(), aspect="auto", origin="lower")
    plt.colorbar(label="mean value")
    plt.xlabel("day of week")
    plt.ylabel("hour of day")
    plt.title(f"{sid} - Seasonal Profile")
    save("seasonal_heatmap.png")

    # 6. M4-downsampled series line (the 100 TB-safe full-series view)
    sid, m4 = first_series(panels["m4"])
    m4 = m4.sort_values("rn")
    plt.figure(figsize=(14, 4))
    plt.plot(m4["rn"], m4["value"], lw=0.8, alpha=0.8, label="M4 envelope")
    ext = m4[(m4["is_min"] == 1) | (m4["is_max"] == 1)]
    plt.scatter(ext["rn"], ext["value"], s=6, color="red", label="bucket extrema")
    plt.title(f"{sid} - series (M4, 256 buckets)")
    plt.legend()
    save("series_m4.png")

    return written


def dump_csvs(panels: dict, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for name, pdf in panels.items():
        path = os.path.join(out_dir, f"panel_{name}.csv")
        pdf.to_csv(path, index=False)
        written.append(path)
    return written


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/tsad_figures"
    spark = get_spark(app_name="example-plotting")
    spark.sparkContext.setLogLevel("ERROR")

    panels = build_panels(spark, sf_dir)
    for name, pdf in panels.items():
        print(f"panel {name}: {len(pdf)} rows x {len(pdf.columns)} cols")

    if HAVE_MPL:
        written = render(panels, out_dir)
    else:
        print("matplotlib not installed - writing panel CSVs instead")
        written = dump_csvs(panels, out_dir)
    for path in written:
        print("wrote", path)


if __name__ == "__main__":
    main()
