"""Per-key time-series forecasting: Holt's linear (double-exponential)
smoothing as a pure in-engine sequential fold.

Exponential smoothing is an inherently sequential recurrence —
s_t = f(s_{t-1}, x_t) — which a window expression cannot express. The
standard escape hatch is a Python loop per key (applyInPandas); this
implementation stays JVM-side instead:

- the per-key series is assembled once with
  ``array_sort(collect_list(struct(order, value)))`` (one shuffle, the
  groupBy the operator needs anyway);
- the recurrence runs as an ``F.aggregate`` fold over that array with an
  ``[level, trend]`` accumulator — whole-stage-codegen arithmetic, no
  Python, no UDF;
- state per key is the series array, bounded by series length: right for
  the daily/hourly rollup series this targets (hundreds-to-thousands of
  points); for million-point raw series, pre-aggregate first (you should
  anyway) or fall back to an applyInPandas seam.

Cross-engine determinism: the fold is a fixed IEEE evaluation order, so
given bit-identical inputs (use exact decimal sums for the series values)
the smoothed level/trend are bit-identical to DuckDB's ``list_reduce``
replay of the same lambda — the contract query needs no tolerance.

Recurrence (Holt 1957, public):
  level_t = α·x_t + (1-α)·(level_{t-1} + trend_{t-1})
  trend_t = β·(level_t − level_{t-1}) + (1-β)·trend_{t-1}
  init: level_1 = x_1, trend_1 = 0
  forecast: x̂_{T+h} = level_T + h·trend_T
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def holt_forecast(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 3,
) -> DataFrame:
    """Holt's linear smoothing per key; returns key cols +
    (n_points, level, trend, forecast_1 .. forecast_h).

    ``order_col`` should be unique per key (pre-aggregate to it first).
    Duplicate order values still sort deterministically — by (order,
    value) — but the recurrence then treats them as consecutive points,
    which is almost never what you want.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError("need 0 < alpha <= 1 and 0 <= beta <= 1")
    if horizon < 0:
        raise ValueError("horizon must be >= 0")
    a, b = F.lit(float(alpha)), F.lit(float(beta))
    # NULL observations are dropped BEFORE the fold: a NULL inside the
    # recurrence would poison level/trend for the rest of the series
    clean = df.where(F.col(value_col).isNotNull())
    series = clean.groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(order_col).alias("o"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("__vals")
    )

    def step(acc, x):
        lvl, tr = F.element_at(acc, 1), F.element_at(acc, 2)
        new_level = a * x + (F.lit(1.0) - a) * (lvl + tr)
        # new_level is inlined twice; IEEE arithmetic is deterministic, so
        # this matches a stored intermediate bit-for-bit (and matches the
        # DuckDB list_reduce replay, which has no let-binding either)
        new_trend = b * (new_level - lvl) + (F.lit(1.0) - b) * tr
        return F.array(new_level, new_trend)

    init = F.array(F.element_at("__vals", 1), F.lit(0.0))
    rest = F.slice("__vals", 2, F.greatest(F.size("__vals") - 1, F.lit(0)))
    acc = F.aggregate(rest, init, step)
    out = series.select(
        *key_cols,
        F.size("__vals").alias("n_points"),
        F.element_at(acc, 1).alias("level"),
        F.element_at(acc, 2).alias("trend"),
    )
    for h in range(1, horizon + 1):
        out = out.withColumn(
            f"forecast_{h}", F.col("level") + F.lit(float(h)) * F.col("trend")
        )
    return out
