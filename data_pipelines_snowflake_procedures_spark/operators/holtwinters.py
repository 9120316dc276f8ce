"""Additive Holt-Winters (triple exponential smoothing) per series.

The classic seasonal forecaster (Holt 1957 / Winters 1960) with a
cross-engine determinism contract strong enough for a hash-exact
DuckDB oracle that replays the SAME recursion in a recursive CTE:

* the series is a DENSE integer count vector (gap-filled hourly
  counts), so the level/trend INITIALIZATION is exact integer
  arithmetic — ``level0 = S1/season``, ``trend0 = (S2-S1)/season²``
  with S1/S2 integer sums of the first two seasons;
* the smoothing recursion is pure double arithmetic with an
  IDENTICAL expression tree per step in both engines (no FMA, no
  re-association, no per-step rounding — per-step half-up vs
  banker's rounding is the cross-engine trap, so we avoid rounding
  until emission);
* emitted forecasts round once to 6 decimals with ``-0.0``
  normalized to ``0.0`` on both sides.

Scale shape: one ``applyInPandas`` per series — the recursion is
inherently sequential IN TIME but embarrassingly parallel ACROSS
series, which is the real-world shape (millions of SKUs × one state
vector each, season-sized state, single pass over each series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ALPHA, BETA, GAMMA = 0.3, 0.05, 0.2


def holt_winters_forecast(
    dense: DataFrame,
    series_col: str,
    t_col: str,
    y_col: str,
    season: int = 24,
    horizon: int = 24,
) -> DataFrame:
    """``dense`` holds one row per (series, t) with t = 0..H-1 dense
    and integer ``y_col``. Returns (series, h, forecast) for
    h = 1..horizon from the final smoothing state. Series shorter
    than 2·season are skipped (not enough data to initialize)."""
    import pandas as pd

    stype = dict(dense.dtypes)[series_col]
    a, b, g = ALPHA, BETA, GAMMA
    one_a, one_b, one_g = 1.0 - ALPHA, 1.0 - BETA, 1.0 - GAMMA

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col)
        y = [int(v) for v in pdf[y_col]]
        if len(y) < 2 * season:
            return pd.DataFrame({series_col: [], "h": [], "forecast": []})
        s1 = sum(y[:season])          # exact integer sums -> exact init
        s2 = sum(y[season : 2 * season])
        lvl = s1 / float(season)
        tr = (s2 - s1) / float(season * season)
        seas = [y[i] - lvl for i in range(season)]
        for t in range(season, len(y)):
            yt = float(y[t])
            s_old = seas[0]
            lvl_new = a * (yt - s_old) + one_a * (lvl + tr)
            tr_new = b * (lvl_new - lvl) + one_b * tr
            s_new = g * (yt - lvl_new) + one_g * s_old
            seas = seas[1:] + [s_new]
            lvl, tr = lvl_new, tr_new
        rows = []
        import math

        for h in range(1, horizon + 1):
            f = lvl + h * tr + seas[(h - 1) % season]
            # HALF-AWAY-FROM-ZERO at 6 decimals, matching SQL round():
            # Python's built-in round is banker's and would diverge on
            # an exact midpoint (review finding)
            sign = -1.0 if f < 0 else 1.0
            f = sign * math.floor(abs(f) * 1e6 + 0.5) / 1e6
            if f == 0:
                f = 0.0  # never emit -0.0 (string-sorted comparators)
            rows.append((pdf[series_col].iloc[0], h, f))
        return pd.DataFrame(rows, columns=[series_col, "h", "forecast"])

    return dense.groupBy(series_col).applyInPandas(
        fit, schema=f"{series_col} {stype}, h long, forecast double"
    )
