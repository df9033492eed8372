"""Ordered window operators — the reference engine's analytical core.

Re-expresses the reference's transforms and smoothers (SURVEY.md §2.5,
reference ``timeseries/app/schemas/timeseries.py``) as native Spark window
expressions. No UDFs: everything stays inside whole-stage codegen, so the
same operator runs unchanged on one series (SKOPE parity) or on billions of
(key, time) series in a single job (partitionBy the series keys).

Exact semantics preserved from the reference:

- **Centered moving average** (``MovingAverageSmoother method=centered``,
  reference timeseries.py:81-121): ``np.convolve(xs, ones(w)/w, "valid")`` —
  odd width, output only where the FULL window fits, and NaN anywhere in the
  window poisons the output (convolution does not skip NaN). Spark: frame
  ``rowsBetween(-w//2, +w//2)`` + row-count == w (full window) + non-null
  count == w (NaN propagation).
- **Trailing moving average** (``method=trailing``, timeseries.py:100-112):
  value labeled t = mean(t-w .. t-1) — the current row is EXCLUDED
  (verified against reference test_datasets.py:116-119). Frame
  ``rowsBetween(-w, -1)``.
- **Rolling z-score** (``ZScoreMovingInterval``, timeseries.py:34-50):
  z of the current value vs the PRECEDING ``width`` values (exclusive),
  where window mean/std SKIP NaN (numba kernel uses nanmean/nanstd) and
  sigma == 0 → NULL. Population stddev (ddof=0).
- **Fixed-interval z-score** (``ZScoreFixedInterval``, timeseries.py:153-176):
  z vs the whole selected interval (scipy zscore, nan_policy="omit", ddof=0),
  or vs a separately-aggregated reference interval (a 1-row broadcast
  cross-join, see ``fixed_reference_zscore``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

ColumnsArg = Sequence[str | Column]


def _ordered_window(partition_by: ColumnsArg, order_by: ColumnsArg):
    if not order_by:
        raise ValueError("window operators require an explicit ordering")
    return W.partitionBy(*partition_by).orderBy(*order_by)


def centered_moving_average(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    partition_by: ColumnsArg = (),
    width: int = 3,
    out_col: str = "smoothed",
    drop_partial: bool = False,
) -> DataFrame:
    """W1 — centered MA; odd ``width``; partial windows → NULL (or dropped)."""
    if width < 1 or width % 2 == 0:
        raise ValueError(f"centered moving average width must be odd >= 1, got {width}")
    half = width // 2
    frame = _ordered_window(partition_by, order_by).rowsBetween(-half, half)
    n_rows = F.count(F.lit(1)).over(frame)
    n_vals = F.count(value_col).over(frame)
    smoothed = F.when(
        (n_rows == width) & (n_vals == width), F.avg(value_col).over(frame)
    )
    out = df.withColumn(out_col, smoothed)
    if drop_partial:
        out = out.withColumn("__full", n_rows == width).where(F.col("__full")).drop("__full")
    return out


def trailing_moving_average(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    partition_by: ColumnsArg = (),
    width: int = 2,
    out_col: str = "smoothed",
    drop_partial: bool = False,
) -> DataFrame:
    """W2 — trailing MA of the ``width`` PRECEDING rows, current row excluded."""
    if width < 1:
        raise ValueError(f"trailing moving average width must be >= 1, got {width}")
    frame = _ordered_window(partition_by, order_by).rowsBetween(-width, -1)
    n_rows = F.count(F.lit(1)).over(frame)
    n_vals = F.count(value_col).over(frame)
    smoothed = F.when(
        (n_rows == width) & (n_vals == width), F.avg(value_col).over(frame)
    )
    out = df.withColumn(out_col, smoothed)
    if drop_partial:
        out = out.withColumn("__full", n_rows == width).where(F.col("__full")).drop("__full")
    return out


def moving_median(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    partition_by: ColumnsArg = (),
    width: int = 3,
    out_col: str = "smoothed",
) -> DataFrame:
    """Centered moving MEDIAN — the robust smoother variant (spike-immune,
    unlike the mean which a single outlier drags). Engine extension beyond
    the reference's moving averages; same full-window 'valid' contract
    (odd width, partial windows → NULL), but NULLs are SKIPPED inside the
    window (median of the present values) rather than poisoning it.
    """
    if width < 1 or width % 2 == 0:
        raise ValueError(f"moving median width must be odd >= 1, got {width}")
    half = width // 2
    frame = _ordered_window(partition_by, order_by).rowsBetween(-half, half)
    n_rows = F.count(F.lit(1)).over(frame)
    # exact percentile, not median(): Spark's median aggregate rejects
    # window frames; percentile(_, 0.5) is the frame-capable exact form
    smoothed = F.when(
        n_rows == width, F.percentile(F.col(value_col), F.lit(0.5)).over(frame)
    )
    return df.withColumn(out_col, smoothed)


def rolling_zscore(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    partition_by: ColumnsArg = (),
    width: int = 5,
    out_col: str = "zscore",
    drop_partial: bool = False,
) -> DataFrame:
    """W3 — z of current value vs the preceding ``width`` rows (exclusive).

    Window mean/stddev skip NULLs (numpy ``nanmean``/``nanstd`` parity);
    sigma == 0 or an incomplete window → NULL.
    """
    if width < 1:
        raise ValueError(f"rolling z-score width must be >= 1, got {width}")
    frame = _ordered_window(partition_by, order_by).rowsBetween(-width, -1)
    n_rows = F.count(F.lit(1)).over(frame)
    mean = F.avg(value_col).over(frame)
    sigma = F.stddev_pop(value_col).over(frame)
    z = F.when(
        (n_rows == width) & (sigma > 0), (F.col(value_col) - mean) / sigma
    )
    out = df.withColumn(out_col, z)
    if drop_partial:
        out = out.withColumn("__full", n_rows == width).where(F.col("__full")).drop("__full")
    return out


def fixed_interval_zscore(
    df: DataFrame,
    value_col: str,
    *,
    partition_by: ColumnsArg = (),
    out_col: str = "zscore",
) -> DataFrame:
    """W4 (self-interval form) — z vs the whole partition, ddof=0, NULL-skipping."""
    frame = W.partitionBy(*partition_by).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    mean = F.avg(value_col).over(frame)
    sigma = F.stddev_pop(value_col).over(frame)
    z = F.when(sigma > 0, (F.col(value_col) - mean) / sigma)
    return df.withColumn(out_col, z)


def fixed_reference_zscore(
    df: DataFrame,
    reference_df: DataFrame,
    value_col: str,
    *,
    join_on: ColumnsArg = (),
    out_col: str = "zscore",
) -> DataFrame:
    """W4 (reference-interval form, J3) — z vs mean/stddev of a second slice.

    ``reference_df`` is aggregated to one row per join key (or one row total)
    and broadcast; the join is a broadcast hash join — no shuffle of ``df``.
    """
    keys = [str(c) for c in join_on]
    stats = reference_df.groupBy(*keys).agg(
        F.avg(value_col).alias("__ref_mean"),
        F.stddev_pop(value_col).alias("__ref_sigma"),
    )
    joined = (
        df.join(F.broadcast(stats), on=keys, how="left")
        if keys
        else df.crossJoin(F.broadcast(stats))
    )
    z = F.when(
        F.col("__ref_sigma") > 0,
        (F.col(value_col) - F.col("__ref_mean")) / F.col("__ref_sigma"),
    )
    return joined.withColumn(out_col, z).drop("__ref_mean", "__ref_sigma")


_GAP_UNITS_MS = {
    "ms": 1,
    "millisecond": 1,
    "milliseconds": 1,
    "s": 1000,
    "sec": 1000,
    "second": 1000,
    "seconds": 1000,
    "min": 60_000,
    "minute": 60_000,
    "minutes": 60_000,
    "h": 3_600_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "d": 86_400_000,
    "day": 86_400_000,
    "days": 86_400_000,
}


def parse_gap_ms(gap: str | int) -> int:
    """Parse a session gap: an int (milliseconds) or a string like
    ``"30 minutes"``, ``"30min"``, ``"500 ms"``, ``"2 days"``.

    Raises ``ValueError`` naming the supported units on anything else.
    """
    if isinstance(gap, int):
        if gap <= 0:
            raise ValueError(f"gap must be positive, got {gap}")
        return gap
    import re as _re

    m = _re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", gap)
    unit_ms = _GAP_UNITS_MS.get(m.group(2).lower()) if m else None
    if unit_ms is None:
        raise ValueError(
            f"unparseable gap {gap!r}; expected '<n> <unit>' with unit one of "
            f"{sorted(set(_GAP_UNITS_MS))}"
        )
    return int(m.group(1)) * unit_ms


def sessionize(
    df: DataFrame,
    *,
    ts_col: str,
    order_by: ColumnsArg,
    partition_by: ColumnsArg,
    gap: str = "30 minutes",
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    previous row exceeds ``gap``. Window-function form of Spark's native
    session window (``sessionized_events`` below).
    """
    gap_ms = parse_gap_ms(gap)
    w = _ordered_window(partition_by, order_by)
    prev_ms = F.lag(F.unix_millis(F.col(ts_col))).over(w)
    is_new = F.when(
        prev_ms.isNull() | (F.unix_millis(F.col(ts_col)) - prev_ms > gap_ms), 1
    ).otherwise(0)
    running = W.partitionBy(*partition_by).orderBy(*order_by).rowsBetween(
        W.unboundedPreceding, 0
    )
    return df.withColumn(out_col, F.sum(is_new).over(running))


def sessionized_events(
    events: DataFrame, *, gap: str = "30 minutes"
) -> DataFrame:
    """Native gap-based sessions via ``F.session_window`` (incremental
    merge state in streaming; equals the batch window-function
    sessionization in results)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def gap_fill_interpolate(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    max_span_days: int = 36_525,
) -> DataFrame:
    """Daily gap filling with linear interpolation — the time-series
    regularization step (sparse per-key daily observations → a dense
    per-key daily series, interior gaps linearly interpolated, edge gaps
    left NULL).

    Plan shape: one daily aggregation, a per-key min/max span (tiny),
    a date-spine ``sequence``+``explode`` (rows materialize inside the
    tasks, never on the driver), a left join back to the daily values,
    and two ignore-nulls window passes (previous/next known point) on the
    SAME (key, day) sort — Spark executes both frames in one window
    stage, so the whole operator costs the daily-agg shuffle plus one
    window shuffle regardless of key count.

    Returns (key, day, value, interpolated) — ``value`` is the observed
    daily sum or the interpolated estimate, ``interpolated`` marks fills.

    ``max_span_days`` (default 100 years) is the date-spine bomb guard:
    ONE sentinel timestamp (epoch 0, 9999-12-31) in a key stretches that
    key's spine to tens of thousands of rows — and at real key counts a
    silently exploding spine is a quadrillion-row output, the gap-fill
    analogue of the decompressed-pixel bomb (png.MAX_PIXELS) and the
    too-large-polygon guard. A key over the cap fails LOUDLY with its
    key and span in the message; pre-filter sentinels or raise the cap
    deliberately.
    """
    daily = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("date").alias("day"),
            F.col(value_col).alias("__v"),
        )
        .groupBy("key", "day")
        .agg(F.round(F.sum("__v"), 4).alias("v"))
    )
    span = F.datediff(F.col("d1"), F.col("d0"))
    d1_checked = F.when(span <= max_span_days, F.col("d1")).otherwise(
        F.raise_error(
            F.format_string(
                "gap_fill_interpolate: key %s spans %s days (> "
                f"max_span_days={max_span_days}) — likely sentinel "
                "timestamps; filter them or raise max_span_days",
                F.col("key").cast("string"),
                span.cast("string"),
            )
        ).cast("date")
    )
    spine = (
        daily.groupBy("key")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "key",
            F.explode(
                F.sequence(
                    F.col("d0"), d1_checked, F.expr("interval 1 day")
                )
            ).alias("day"),
        )
    )
    j = spine.join(daily, ["key", "day"], "left")
    before = (
        W.partitionBy("key")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    after = W.partitionBy("key").orderBy("day").rowsBetween(1, W.unboundedFollowing)
    known_day = F.when(F.col("v").isNotNull(), F.col("day"))
    pv = F.last("v", ignorenulls=True).over(before)
    pd_ = F.last(known_day, ignorenulls=True).over(before)
    nv = F.first("v", ignorenulls=True).over(after)
    nd = F.first(known_day, ignorenulls=True).over(after)
    interp = pv + (nv - pv) * (
        F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_)
    )
    return j.select(
        "key",
        "day",
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 4
        ).alias("value"),
        (F.col("v").isNull() & pv.isNotNull() & nv.isNotNull()).alias(
            "interpolated"
        ),
    )


def seasonal_decompose(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    season_col: str,
    period: int = 12,
    partition_by: ColumnsArg = (),
) -> DataFrame:
    """Classical additive seasonal decomposition (the first thing a user
    asks of a monthly climate/sales series): value = trend + seasonal +
    residual.

    - trend: for EVEN periods the classical centered 2 x period moving
      average — the (period+1)-window sum with HALF weight on the two
      endpoints, divided by period — so every season enters the window
      with total weight exactly 1 and no seasonal phase leaks into the
      trend (a plain (period+1)-MA double-counts the endpoint season:
      systematic bias offset/(period+1) per step). Odd periods use the
      plain period-MA. "Valid" windows only (edges NULL) — the W1
      discipline;
    - seasonal: per-``season_col`` mean of the series, centered so the
      seasonal component sums to zero over one period (the standard
      identifiability constraint);
    - residual: value - trend - seasonal (NULL where trend is NULL).

    Two window passes + one tiny per-season aggregate joined back via
    broadcast — no corpus-sized extra shuffle beyond the ordering the
    windows already need. Season means use the RAW series (textbook
    classical decomposition's detrend-free variant — deterministic, no
    iteration); for trend-dominated series detrend first.

    ``partition_by`` must be column NAMES (strings): the seasonal join
    is by-name; Column objects would make its keys ambiguous.
    """
    keys = list(partition_by) if partition_by else []
    if any(not isinstance(k, str) for k in keys):
        raise TypeError(
            "seasonal_decompose partition_by must be column names "
            "(strings) — the seasonal join is by-name"
        )
    if period % 2 == 0:
        half = period // 2
        base = _ordered_window(partition_by, order_by)
        frame = base.rowsBetween(-half, half)
        n_rows = F.count(F.lit(1)).over(frame)
        n_vals = F.count(value_col).over(frame)
        first = F.lag(value_col, half).over(base)
        last = F.lead(value_col, half).over(base)
        trend = F.when(
            (n_rows == period + 1) & (n_vals == period + 1),
            (F.sum(value_col).over(frame) - 0.5 * first - 0.5 * last)
            / float(period),
        )
        smoothed = df.withColumn("trend", trend)
    else:
        smoothed = centered_moving_average(
            df,
            value_col,
            order_by=order_by,
            partition_by=partition_by,
            width=period,
            out_col="trend",
        )
    season_means = df.groupBy(*keys, season_col).agg(
        F.avg(value_col).alias("__smean")
    )
    grand = season_means.groupBy(*keys).agg(
        F.avg("__smean").alias("__grand")
    )
    seasonal = (
        season_means.join(F.broadcast(grand), keys)
        if keys
        else season_means.crossJoin(F.broadcast(grand))
    )
    seasonal = seasonal.select(
        *keys, season_col, (F.col("__smean") - F.col("__grand")).alias("seasonal")
    )
    out = smoothed.join(F.broadcast(seasonal), keys + [season_col])
    return out.withColumn(
        "residual",
        F.col(value_col) - F.col("trend") - F.col("seasonal"),
    )


def level_shift_detect(
    df: DataFrame,
    value_col: str,
    *,
    order_by: ColumnsArg,
    partition_by: ColumnsArg = (),
    width: int = 5,
    threshold: float = 3.0,
    out_col: str = "is_shift",
) -> DataFrame:
    """Rolling level-shift (changepoint) detector: at each row, compare
    the mean of the NEXT ``width`` values against the mean of the
    PREVIOUS ``width`` values; flag when the jump exceeds ``threshold``
    times the pooled standard deviation of the two windows.

    Pure window algebra (two frames over one ordering shuffle) — the
    deterministic, vectorizable cousin of CUSUM: CUSUM's running-max
    recursion needs a sequential fold, while this two-window test is
    embarrassingly parallel and catches the same abrupt mean shifts.
    Edges (incomplete windows) yield NULL. Zero pooled variance is NOT
    a dead zone: a clean noise-free step (both windows internally
    constant, different levels) flags True — any nonzero jump against
    zero noise is infinite effect size — while a flat plateau is False.

    Returns the input plus (before_mean, after_mean, out_col boolean).
    """
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    base = _ordered_window(partition_by, order_by)
    before = base.rowsBetween(-width, -1)
    after = base.rowsBetween(0, width - 1)
    b_n, a_n = F.count(value_col).over(before), F.count(value_col).over(after)
    b_mean = F.avg(value_col).over(before)
    a_mean = F.avg(value_col).over(after)
    b_var = F.var_pop(value_col).over(before)
    a_var = F.var_pop(value_col).over(after)
    pooled = F.sqrt((F.col("__bv") + F.col("__av")) / 2.0)
    out = (
        df.withColumn("__bn", b_n)
        .withColumn("__an", a_n)
        .withColumn("before_mean", b_mean)
        .withColumn("after_mean", a_mean)
        .withColumn("__bv", b_var)
        .withColumn("__av", a_var)
    )
    complete = (F.col("__bn") == width) & (F.col("__an") == width)
    jump = F.abs(F.col("after_mean") - F.col("before_mean"))
    flag = F.when(
        complete,
        F.when(pooled > 0.0, jump > threshold * pooled).otherwise(
            jump > 0.0
        ),
    )
    return (
        out.withColumn(out_col, flag)
        .withColumn(
            "before_mean", F.when(complete, F.col("before_mean"))
        )
        .withColumn("after_mean", F.when(complete, F.col("after_mean")))
        .drop("__bn", "__an", "__bv", "__av")
    )


def rolling_distinct_count(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_buckets: int = 24,
    bucket: str = "hour",
) -> DataFrame:
    """EXACT sliding-window distinct count (e.g. rolling 24 h active
    users per hour) — the aggregate ordinary windows cannot express
    without O(window) state per row, and Spark's window functions refuse
    outright (no DISTINCT over a frame).

    Bounded-explode layout (the standard sliding-window rewrite): dedup
    to (bucket, key) pairs — the corpus collapses to at most
    |buckets|·|keys| skinny rows — then each pair replicates into the
    ``window_buckets`` windows it can serve (a constant ×24 fan-out of
    the DEDUPED pairs, not the raw events), and one count-distinct per
    target window finishes. Windows are emitted only for buckets that
    actually contain events. Two shuffles total (pair dedup + the
    count-distinct), both partial-aggregatable; fan-out cost scales with
    distinct activity, never with raw event volume.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    # the deduped pair table serves both the fan-out and the real-bucket
    # list; checkpoint so the raw events scan runs once, not twice
    pairs = (
        df.select(b.alias("__h"), F.col(key_col).alias("__k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ks = F.array(*[F.lit(i) for i in range(window_buckets)])
    fanned = pairs.select(
        F.explode(ks).alias("__i"), "__h", "__k"
    ).select(
        F.expr(f"timestampadd({bucket.upper()}, __i, __h)").alias("__wh"),
        "__k",
    )
    real = pairs.select(F.col("__h").alias("__wh")).distinct()
    return (
        fanned.join(real, "__wh")
        .groupBy("__wh")
        .agg(F.countDistinct("__k").alias("distinct_keys"))
        .select(F.col("__wh").alias("window_end"), "distinct_keys")
    )


def hampel_filter(
    df: DataFrame,
    value_col: str,
    *,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    half_window: int = 3,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Hampel outlier repair (public robust-filtering recipe): flag a
    point when it sits more than ``n_sigmas`` scaled MADs from its
    centered rolling MEDIAN, and replace it with that median — the
    robust alternative to z-score cleaning (one wild spike corrupts a
    rolling mean AND its stddev; it cannot corrupt the median/MAD).

    The window median and the MAD-around-that-median both need the
    frame's VALUES, not a running aggregate — realized as collect_list
    over the (2k+1)-row frame + JVM array expressions (sort → middle
    element; |v − med| → sort → middle). Frame arrays are 2k+1 doubles,
    bounded by construction; everything stays in codegen. W1 "valid"
    discipline: edge rows with incomplete frames get NULL med/flag and
    pass through unrepaired. 1.4826·MAD is the Gaussian-consistent
    sigma estimate. Appends rolling_median, is_outlier, repaired.

    NULL values in the input column: Spark's collect_list DROPS them, so
    any frame containing a NULL has size < 2k+1 and is treated as
    incomplete — its center row passes through unrepaired (NULL
    med/flag). That is the operator's contract ("repair only over
    fully-observed frames"), and it DIVERGES from engines whose window
    list() keeps NULLs and can still produce a median for the frame
    (e.g. DuckDB) — the cross-engine bit-parity claim below holds for
    NULL-free value columns only; pre-filter or impute NULLs upstream if
    the other semantic is wanted.
    """
    width = 2 * half_window + 1
    w = (
        W.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-half_window, half_window)
    )
    v = F.col(value_col).cast("double")
    arr = F.collect_list(v).over(w)
    out = df.withColumn("__arr", arr)
    complete = F.size(F.col("__arr")) == width
    srt = F.array_sort(F.col("__arr"))
    med = F.element_at(srt, half_window + 1)
    out = out.withColumn(
        "rolling_median", F.when(complete, med)
    )
    absdev = F.array_sort(
        F.transform(
            F.col("__arr"), lambda x: F.abs(x - F.col("rolling_median"))
        )
    )
    mad = F.element_at(absdev, half_window + 1)
    thresh = F.lit(n_sigmas) * 1.4826 * mad
    is_outlier = F.when(
        complete,
        F.abs(v - F.col("rolling_median")) > thresh,
    )
    return (
        out.withColumn("is_outlier", is_outlier)
        .withColumn(
            "repaired",
            F.when(
                F.coalesce(F.col("is_outlier"), F.lit(False)),
                F.col("rolling_median"),
            ).otherwise(v),
        )
        .drop("__arr")
    )
