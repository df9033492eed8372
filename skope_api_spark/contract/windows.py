"""Window-operator contract queries on the ``events`` table.

Each maps a SURVEY.md §2.5 operator (W1–W4) onto (user_id, ts)-ordered event
series, so the exact reference semantics (full-window 'valid' convolution,
exclusive trailing windows, NULL-skipping nan* stats, population stddev,
sigma==0 → NULL) are oracle-checked against DuckDB. The ordering key is
always (ts, event_id) — a total order, so cross-engine results are
deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from skope_api_spark.contract.registry import query, round_nz
from skope_api_spark.operators import windows as ops
from skope_api_spark.tables import load


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events")


@query(
    "w1_centered_moving_average",
    oracle="""
SELECT event_id, user_id, ts, value, ROUND(cma, 4) AS cma FROM (
  SELECT event_id, user_id, ts, value,
    CASE WHEN COUNT(*)    OVER w = 3
          AND COUNT(value) OVER w = 3
         THEN AVG(value) OVER w END AS cma
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
)
ORDER BY user_id, ts, event_id
""",
)
def w1_centered_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.centered_moving_average(
        _events(spark, sf_dir),
        "value",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        width=3,
        out_col="cma",
    )
    return df.select(
        "event_id", "user_id", "ts", "value", F.round("cma", 4).alias("cma")
    )


@query(
    "w2_trailing_moving_average",
    oracle="""
SELECT event_id, user_id, ts, value, ROUND(tma, 4) AS tma FROM (
  SELECT event_id, user_id, ts, value,
    CASE WHEN COUNT(*)    OVER w = 2
          AND COUNT(value) OVER w = 2
         THEN AVG(value) OVER w END AS tma
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
)
ORDER BY user_id, ts, event_id
""",
)
def w2_trailing_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.trailing_moving_average(
        _events(spark, sf_dir),
        "value",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        width=2,
        out_col="tma",
    )
    return df.select(
        "event_id", "user_id", "ts", "value", F.round("tma", 4).alias("tma")
    )


@query(
    "w3_rolling_zscore",
    oracle="""
SELECT event_id, user_id, ts, (ROUND(z, 4) + 0.0) AS z FROM (
  SELECT event_id, user_id, ts,
    CASE WHEN COUNT(*) OVER w = 5 AND STDDEV_POP(value) OVER w > 0
         THEN (value - AVG(value) OVER w) / (STDDEV_POP(value) OVER w) END AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
)
ORDER BY user_id, ts, event_id
""",
)
def w3_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.rolling_zscore(
        _events(spark, sf_dir),
        "value",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        width=5,
        out_col="z",
    )
    return df.select(
        "event_id", "user_id", "ts", round_nz("z", 4).alias("z")
    )


@query(
    "w4_fixed_interval_zscore",
    oracle="""
SELECT event_id, user_id, (ROUND(z, 4) + 0.0) AS z FROM (
  SELECT event_id, user_id,
    CASE WHEN STDDEV_POP(value) OVER w > 0
         THEN (value - AVG(value) OVER w) / (STDDEV_POP(value) OVER w) END AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
ORDER BY user_id, event_id
""",
)
def w4_fixed_interval_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.fixed_interval_zscore(
        _events(spark, sf_dir),
        "value",
        partition_by=("user_id",),
        out_col="z",
    )
    return df.select("event_id", "user_id", round_nz("z", 4).alias("z"))


@query(
    "w4_reference_interval_zscore",
    oracle="""
WITH ref AS (
  SELECT AVG(value) AS m, STDDEV_POP(value) AS s
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
)
SELECT event_id,
  CASE WHEN s > 0 THEN (ROUND((value - m) / s, 4) + 0.0) END AS z
FROM events CROSS JOIN ref
ORDER BY event_id
""",
)
def w4_reference_interval_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    ref = ev.where(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    )
    df = ops.fixed_reference_zscore(ev, ref, "value", out_col="z")
    return df.select("event_id", round_nz("z", 4).alias("z"))


@query(
    "moving_median_smoother",
    oracle="""
SELECT event_id, user_id, ROUND(mm, 4) AS mm FROM (
  SELECT event_id, user_id,
    CASE WHEN COUNT(*) OVER w = 5 THEN MEDIAN(value) OVER w END AS mm
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
ORDER BY user_id, event_id
""",
)
def moving_median_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median) smoother, w=5 — exact windowed median cross-checked;
    extension beyond the reference's moving averages."""
    df = ops.moving_median(
        _events(spark, sf_dir),
        "value",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        width=5,
        out_col="mm",
    )
    return df.select("event_id", "user_id", F.round("mm", 4).alias("mm"))


@query(
    "value_window_suite",
    oracle="""
SELECT event_id, user_id,
       ROUND(FIRST_VALUE(value) OVER w, 4)                    AS first_val,
       ROUND(LAST_VALUE(value)  OVER w, 4)                    AS last_val,
       ROUND(NTH_VALUE(value, 3) OVER w, 4)                   AS third_val,
       ROUND(CUME_DIST() OVER (PARTITION BY user_id ORDER BY value, event_id), 6) AS cdist
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id, event_id
""",
)
def value_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over full frames + cume_dist ranking."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    wc = W.partitionBy("user_id").orderBy("value", "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            F.round(F.first("value").over(w), 4).alias("first_val"),
            F.round(F.last("value").over(w), 4).alias("last_val"),
            F.round(F.nth_value("value", 3).over(w), 4).alias("third_val"),
            F.round(F.cume_dist().over(wc), 6).alias("cdist"),
        )
    )


@query(
    "ranking_suite",
    oracle="""
SELECT
  event_id, user_id,
  CAST(ROW_NUMBER()   OVER w AS INT)    AS rn,
  CAST(RANK()         OVER w AS INT)    AS rnk,
  CAST(DENSE_RANK()   OVER w AS INT)    AS drnk,
  CAST(NTILE(4)       OVER w AS INT)    AS quartile,
  ROUND(PERCENT_RANK() OVER w, 6)       AS prank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
ORDER BY user_id, rn
""",
)
def ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
        )
    )


@query(
    "lag_lead_deltas",
    oracle="""
SELECT
  event_id, user_id,
  (ROUND(value - LAG(value) OVER w, 4) + 0.0)            AS value_delta,
  (ROUND(LEAD(value) OVER w - value, 4) + 0.0)           AS next_delta,
  EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w)                AS gap_ms
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def lag_lead_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            round_nz(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
            round_nz(F.lead("value").over(w) - F.col("value"), 4).alias("next_delta"),
            (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms"),
        )
    )


@query(
    "running_cumulative_sum",
    oracle="""
SELECT event_id, user_id, ts,
  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM events
ORDER BY user_id, ts, event_id
""",
)
def running_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.sum("value").over(w), 4).alias("running_total"),
            F.count(F.lit(1)).over(w).alias("running_n"),
        )
    )


@query(
    "sessionize_native_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def sessionize_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` (the streaming-capable session
    operator, incremental merge state) must reproduce the lag-based batch
    sessionization — same gap, same boundaries. Oracle = the explicit
    gap-flag SQL."""
    return ops.sessionized_events(_events(spark, sf_dir), gap="30 minutes").orderBy(
        "user_id", "session_start"
    )


@query(
    "sessionize_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.sessionize(
        _events(spark, sf_dir),
        ts_col="ts",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        gap="30 minutes",
        out_col="session_id",
    )
    return (
        df.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "range_join_overlapping_sessions",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess0 AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), sess AS (
  SELECT user_id, CAST(sid AS BIGINT) AS sid, MIN(ts) AS s, MAX(ts) AS e
  FROM sess0 GROUP BY user_id, sid
), a AS (
  SELECT user_id AS user_a, sid AS session_a, s AS start_a, e AS end_a
  FROM sess WHERE user_id % 7 = 0
), b AS (
  SELECT user_id AS user_b, sid AS session_b, s AS start_b, e AS end_b
  FROM sess WHERE user_id % 5 = 0
)
SELECT user_a, session_a, start_a, end_a, user_b, session_b, start_b, end_b
FROM a JOIN b
  ON start_a <= end_b AND start_b <= end_a AND user_a <> user_b
ORDER BY user_a, session_a, user_b, session_b
""",
)
def range_join_overlapping_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which sessions of two user cohorts were active
    simultaneously. The oracle writes the textbook inequality join (plans
    as a cartesian — fine for DuckDB at oracle scale); the Spark side runs
    the BUCKETED range join (`operators/rangejoin.py`): explode to
    30-minute bucket indexes, hash-join on bucket equality, exact overlap
    predicate within buckets, first-shared-bucket rule so each pair emits
    once with no distinct. Same rows, scale-safe plan."""
    from skope_api_spark.operators.rangejoin import interval_overlap_join

    sess = (
        ops.sessionize(
            _events(spark, sf_dir),
            ts_col="ts",
            order_by=("ts", "event_id"),
            partition_by=("user_id",),
            gap="30 minutes",
            out_col="session_id",
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    a = sess.where(F.col("user_id") % 7 == 0).select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("session_a"),
        F.col("s").alias("start_a"),
        F.col("e").alias("end_a"),
    )
    b = sess.where(F.col("user_id") % 5 == 0).select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("session_b"),
        F.col("s").alias("start_b"),
        F.col("e").alias("end_b"),
    )
    return interval_overlap_join(
        a,
        b,
        left_start="start_a",
        left_end="end_a",
        right_start="start_b",
        right_end="end_b",
        bucket="30 minutes",
        extra_condition=F.col("user_a") != F.col("user_b"),
    ).orderBy("user_a", "session_a", "user_b", "session_b")


@query(
    "interval_join_click_purchase",
    oracle="""
WITH c AS (
  SELECT user_id AS click_user, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
         ROUND(value, 4) AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id, p.purchase_ts, p.purchase_value,
       c.click_id, c.click_ts
FROM c JOIN p
  ON c.click_user = p.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
ORDER BY user_id, purchase_id, click_id
""",
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-window join — every (click, purchase-within-30-min) pair
    per user. The oracle writes the bare inequality join (cartesian at
    engine level); the Spark side runs the bucketed range join: clicks
    become [ts, ts+30min] intervals, purchases are point intervals, the
    equi-key is the 30-minute bucket index (+ user equality as an extra
    predicate). Same rows, no BroadcastNestedLoopJoin."""
    from skope_api_spark.operators.rangejoin import interval_overlap_join

    ev = _events(spark, sf_dir)
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("click_end"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.round("value", 4).alias("purchase_value"),
    )
    return (
        interval_overlap_join(
            c,
            p.withColumn("p_end", F.col("purchase_ts")),
            left_start="click_ts",
            left_end="click_end",
            right_start="purchase_ts",
            right_end="p_end",
            bucket="30 minutes",
            keys=[("click_user", "user_id")],
        )
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts",
            "purchase_value",
            "click_id",
            "click_ts",
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


@query(
    "ts_seasonal_decompose_orders",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mon0,
         CAST(month(o_orderdate) AS INT) AS season,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), t AS (
  SELECT mon0, season, c,
         CASE WHEN COUNT(*) OVER w = 13
              THEN 2 * SUM(c) OVER w - LAG(c, 6) OVER o - LEAD(c, 6) OVER o
         END AS a
  FROM m WINDOW w AS (ORDER BY mon0 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING),
              o AS (ORDER BY mon0)
), cy AS (
  SELECT year(mon0) AS yr FROM m GROUP BY 1 HAVING COUNT(*) = 12
), cm AS (
  SELECT m.season, m.c FROM m JOIN cy ON year(m.mon0) = cy.yr
), s AS (
  SELECT season, SUM(c) AS ts FROM cm GROUP BY season
), g AS (
  SELECT (SELECT COUNT(*) FROM cy) AS n, COALESCE(SUM(c), 0) AS tot FROM cm
)
SELECT CAST(t.mon0 AS DATE) AS mon, t.season,
       ROUND(CAST(t.c AS DOUBLE) / 100.0, 2) AS v,
       CAST((25 * t.a + 3) // 6 AS DOUBLE) / 10000.0 AS trend,
       CASE WHEN g.n > 0 THEN CAST(
         CASE WHEN 12 * s.ts - g.tot >= 0
              THEN (50 * (12 * s.ts - g.tot) + 3 * g.n) // (6 * g.n)
              ELSE -((-50 * (12 * s.ts - g.tot) + 3 * g.n) // (6 * g.n))
         END AS DOUBLE) / 10000.0 END AS seasonal,
       CASE WHEN t.a IS NOT NULL AND g.n > 0 THEN CAST(
         CASE WHEN 24 * g.n * t.c - g.n * t.a - 2 * (12 * s.ts - g.tot) >= 0
              THEN (50 * (24 * g.n * t.c - g.n * t.a - 2 * (12 * s.ts - g.tot))
                    + 6 * g.n) // (12 * g.n)
              ELSE -((-50 * (24 * g.n * t.c - g.n * t.a - 2 * (12 * s.ts - g.tot))
                      + 6 * g.n) // (12 * g.n))
         END AS DOUBLE) / 10000.0 END AS residual
FROM t LEFT JOIN s USING (season) CROSS JOIN g
ORDER BY mon
""",
)
def ts_seasonal_decompose_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the monthly revenue series:
    2x12 centered-MA trend (half-weight endpoints — no seasonal phase
    leaks into the trend), zero-centered per-month seasonal means over
    COMPLETE calendar years, residual = value - trend - seasonal. Pins
    the semantics of operators/windows.py::seasonal_decompose (same
    trend formula; the operator's own unit tests cover the float path)
    in a fully INTEGER-EXACT form, because the double path is not
    cross-engine reproducible at scale: window/aggregate sums associate
    in engine-specific orders, so Spark's and DuckDB's pre-round
    doubles differ by ulps and can straddle a 4-dp rounding boundary —
    observed at sf1 (residual 18216835.2162 vs .2163), invisible to the
    oracle-side tie audit since the divergence is in SPARK's double.

    Exact formulation, all BIGINT until one final /1e4 on both engines:
    monthly cents c (exact DECIMAL money sum x100); trend = A/2400 with
    A = 2*sum13(c) - first - last; seasonal means use complete years
    only (a documented refinement: balanced means avoid partial-year
    bias AND give every season the same denominator n = #complete
    years), so seasonal = E_s/(1200n) with E_s = 12*T_s - T integer;
    residual = (24nc - nA - 2E_s)/(2400n). Each x1e4 output rounds by
    integer HALF_UP, sign-split ((2|p|+q) DIV (2q)) because DIV
    truncates in Spark but // floors in DuckDB — identical only on
    non-negatives. No complete year => seasonal/residual NULL.
    Magnitude headroom: |p| <= ~1.4e17 at sf9, vs BIGINT 9.2e18."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon0"),
        F.month("o_orderdate").cast("int").alias("season"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("c")
    )
    o = W.orderBy("mon0")
    w13 = o.rowsBetween(-6, 6)
    t = monthly.withColumn(
        "a",
        F.when(
            F.count(F.lit(1)).over(w13) == 13,
            2 * F.sum("c").over(w13)
            - F.lag("c", 6).over(o)
            - F.lead("c", 6).over(o),
        ),
    )
    cy = (
        monthly.groupBy(F.year("mon0").alias("yr"))
        .agg(F.count(F.lit(1)).alias("nm"))
        .where(F.col("nm") == 12)
        .select("yr")
    )
    cm = monthly.join(
        F.broadcast(cy), F.year("mon0") == F.col("yr")
    ).select("season", "c")
    s = cm.groupBy("season").agg(F.sum("c").alias("ts"))
    # two global one-row aggregates (empty cm -> tot 0, n 0 -> NULL outputs)
    g = cy.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        cm.agg(F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("tot"))
    )

    def half_up(p: str, q: str) -> F.Column:
        return (
            F.expr(
                f"CASE WHEN {p} >= 0 THEN (2 * ({p}) + ({q})) DIV (2 * ({q}))"
                f" ELSE -((-2 * ({p}) + ({q})) DIV (2 * ({q}))) END"
            ).cast("double")
            / F.lit(10000.0)
        )

    out = (
        t.join(F.broadcast(s), "season", "left")
        .crossJoin(F.broadcast(g))
        .withColumn("e", 12 * F.col("ts") - F.col("tot"))
    )
    return out.select(
        F.col("mon0").cast("date").alias("mon"),
        "season",
        F.round(F.col("c").cast("double") / 100.0, 2).alias("v"),
        (F.expr("(25 * a + 3) DIV 6").cast("double") / F.lit(10000.0)).alias(
            "trend"
        ),
        F.when(F.col("n") > 0, half_up("25 * e", "3 * n")).alias("seasonal"),
        F.when(
            F.col("a").isNotNull() & (F.col("n") > 0),
            half_up("25 * (24 * n * c - n * a - 2 * e)", "6 * n"),
        ).alias("residual"),
    ).orderBy("mon")


@query(
    "ts_level_shift_monthly_revenue",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mon0,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           + CASE WHEN date_trunc('month', o_orderdate)
                       >= TIMESTAMP '1995-01-01'
                  THEN 20000000.0 ELSE 0.0 END AS v
  FROM orders GROUP BY 1
), w AS (
  SELECT mon0, v,
         COUNT(v) OVER wb AS bn, COUNT(v) OVER wa AS an,
         AVG(v) OVER wb AS bm, AVG(v) OVER wa AS am,
         VAR_POP(v) OVER wb AS bv, VAR_POP(v) OVER wa AS av
  FROM m
  WINDOW wb AS (ORDER BY mon0 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
         wa AS (ORDER BY mon0 ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
)
SELECT CAST(mon0 AS DATE) AS mon,
       ROUND(v, 2) AS v,
       ROUND(CASE WHEN bn = 5 AND an = 5 THEN bm END, 4) AS before_mean,
       ROUND(CASE WHEN bn = 5 AND an = 5 THEN am END, 4) AS after_mean,
       CASE WHEN bn = 5 AND an = 5
            THEN CASE WHEN sqrt((bv + av) / 2.0) > 0.0
                      THEN abs(am - bm) > 3.0 * sqrt((bv + av) / 2.0)
                      ELSE abs(am - bm) > 0.0 END END AS is_shift
FROM w ORDER BY mon
""",
)
def ts_level_shift_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling level-shift detector (operators/windows.py::
    level_shift_detect) over the monthly revenue series with an injected
    +20M step at 1995-01 — the detector must flag the boundary and stay
    quiet elsewhere; incomplete edge windows yield NULL."""
    from skope_api_spark.operators.windows import level_shift_detect

    orders = load(spark, sf_dir, "orders")
    mon = F.date_trunc("month", "o_orderdate")
    monthly = orders.groupBy(mon.alias("mon0")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + F.when(
                F.col("mon0").isNotNull() & (F.col("mon0") >= "1995-01-01"),
                F.lit(20000000.0),
            ).otherwise(0.0)
        ).alias("v")
    )
    out = level_shift_detect(
        monthly, "v", order_by=["mon0"], width=5, threshold=3.0
    )
    return out.select(
        F.col("mon0").cast("date").alias("mon"),
        F.round("v", 2).alias("v"),
        F.round("before_mean", 4).alias("before_mean"),
        F.round("after_mean", 4).alias("after_mean"),
        "is_shift",
    ).orderBy("mon")


@query(
    "session_top_paths",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), paths AS (
  SELECT user_id, sid,
         STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent session journeys: sessionize (same 30-min gap
    rule as sessionize_events), rebuild each session's ordered event-type
    path via array_sort(collect_list(struct)) — the deterministic form of
    an ordered STRING_AGG — and TakeOrdered the path histogram
    (operators/funnel.py:session_paths)."""
    from skope_api_spark.operators.funnel import session_paths

    return session_paths(_events(spark, sf_dir), top_k=20)


@query(
    "session_bounce_rate",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS sid
  FROM flagged
), sizes AS (
  SELECT user_id, sid, COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, sid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
         AS n_bounces,
       CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE) / COUNT(*)
         AS bounce_rate,
       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_session_events
FROM sizes
""",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate — single-event sessions over total sessions (the
    product-analytics headline KPI), from the shared 30-min gap
    sessionization. Ratios are single divisions of exact integers:
    bit-identical cross-engine, no rounding."""
    df = ops.sessionize(
        _events(spark, sf_dir),
        ts_col="ts",
        order_by=("ts", "event_id"),
        partition_by=("user_id",),
        gap="30 minutes",
        out_col="sid",
    )
    sizes = df.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        F.try_divide(
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double"),
            F.count(F.lit(1)),
        ).alias("bounce_rate"),
        F.try_divide(
            F.sum("n_events").cast("double"), F.count(F.lit(1))
        ).alias("avg_session_events"),
    )


@query(
    "ts_rolling_distinct_users_24h",
    oracle="""
WITH hu AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
), real_hours AS (SELECT DISTINCT h AS wh FROM hu),
fanned AS (
  SELECT hu.h + INTERVAL '1 hour' * g.k AS wh, hu.user_id
  FROM hu CROSS JOIN generate_series(0, 23) g(k)
)
SELECT f.wh AS window_end,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS distinct_keys
FROM fanned f JOIN real_hours r USING (wh)
GROUP BY f.wh
ORDER BY window_end
""",
)
def ts_rolling_distinct_users_24h(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact rolling-24h distinct active users per hour — the sliding
    count-distinct no window frame can express. Bounded-explode rewrite:
    dedup (hour, user) pairs, constant ×24 fan-out of the deduped pairs,
    one count-distinct per window; cost scales with distinct activity,
    never raw event volume (operators/windows.py:rolling_distinct_count).
    The oracle replays the identical fan-out (generate_series), so both
    engines count the same exact windows."""
    events = load(spark, sf_dir, "events")
    return ops.rolling_distinct_count(
        events, ts_col="ts", key_col="user_id", window_buckets=24
    ).orderBy("window_end")


@query(
    "ts_seasonal_anomaly_flags",
    oracle="""
WITH m AS (
  SELECT mon0, season,
         v + CASE WHEN mon0 = TIMESTAMP '1997-03-01' THEN 50000000.0
             ELSE 0.0 END AS v
  FROM (
    SELECT date_trunc('month', o_orderdate) AS mon0,
           CAST(month(o_orderdate) AS INT) AS season,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
    FROM orders GROUP BY 1, 2
  )
), t AS (
  SELECT mon0, season, v,
         CASE WHEN COUNT(*) OVER w = 13
              THEN (SUM(v) OVER w
                    - 0.5 * LAG(v, 6) OVER o
                    - 0.5 * LEAD(v, 6) OVER o) / 12.0 END AS trend
  FROM m WINDOW w AS (ORDER BY mon0 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING),
              o AS (ORDER BY mon0)
), s AS (
  SELECT season, AVG(v) AS smean FROM m GROUP BY season
), g AS (SELECT AVG(smean) AS grand FROM s),
r AS (
  SELECT t.mon0, t.v, t.v - t.trend - (s.smean - g.grand) AS residual
  FROM t JOIN s USING (season) CROSS JOIN g
  WHERE t.trend IS NOT NULL
), sd AS (SELECT stddev_pop(residual) AS sigma FROM r)
SELECT CAST(r.mon0 AS DATE) AS mon, ROUND(r.v, 2) AS v,
       (ROUND(r.residual, 4) + 0.0) AS residual,
       (ROUND(r.residual / sd.sigma, 4) + 0.0) AS zscore,
       (abs(r.residual) > 2 * sd.sigma) AS is_anomaly
FROM r, sd
ORDER BY mon
""",
)
def ts_seasonal_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection — the composition a monitoring
    pipeline actually runs: classical decomposition of monthly revenue
    (with a deterministic +50M spike injected into 1997-03 (a month whose centered trend window is complete — the first/last half-year have NULL trend and never reach the flag) so the query
    PROVES detection), then a 2-sigma flag on the residuals. One extra
    1-row sigma broadcast over the decompose plan; the spiked month must
    flag and the rest must not (operators/windows.py:seasonal_decompose).
    """
    from skope_api_spark.operators.windows import seasonal_decompose

    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon0"),
        F.month("o_orderdate").cast("int").alias("season"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("v")
    )
    spiked = monthly.withColumn(
        "v",
        F.col("v")
        + F.when(
            F.col("mon0") == F.to_timestamp(F.lit("1997-03-01")),
            F.lit(50_000_000.0),
        ).otherwise(F.lit(0.0)),
    )
    dec = seasonal_decompose(
        spiked, "v", order_by=["mon0"], season_col="season", period=12
    ).where(F.col("trend").isNotNull())
    sd = dec.agg(F.stddev_pop("residual").alias("__sigma"))
    out = dec.crossJoin(F.broadcast(sd))
    return out.select(
        F.col("mon0").cast("date").alias("mon"),
        F.round("v", 2).alias("v"),
        round_nz("residual", 4).alias("residual"),
        round_nz(F.col("residual") / F.col("__sigma"), 4).alias("zscore"),
        (F.abs("residual") > 2 * F.col("__sigma")).alias("is_anomaly"),
    ).orderBy("mon")


@query(
    "ts_cumulative_unique_users_daily",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
  GROUP BY user_id
), daily AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY 1
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM daily
ORDER BY day
""",
)
def ts_cumulative_unique_users_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The user-growth curve: daily first-seen users and the running
    total of distinct users ever seen — the exact running COUNT(DISTINCT)
    rewritten as first-occurrence extraction (one per-user MIN) plus a
    cumulative sum over the day-level report. No distinct-over-frame, no
    O(users) window state; the corpus collapses to |users| rows then
    |days| rows before the only ordered window."""
    events = load(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    ).orderBy("day")


@query(
    "ts_hampel_filter_events",
    oracle="""
WITH framed AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
  FROM events
), med AS (
  SELECT event_id, user_id, value, arr,
         CASE WHEN len(arr) = 7 THEN list_sort(arr)[4] END AS rolling_median
  FROM framed
), scored AS (
  SELECT event_id, user_id, value, rolling_median,
         CASE WHEN rolling_median IS NOT NULL THEN
           abs(value - rolling_median) >
           3.0 * 1.4826 *
           list_sort([abs(x - rolling_median) FOR x IN arr])[4]
         END AS is_outlier
  FROM med
)
SELECT event_id, user_id, value, rolling_median, is_outlier,
       CASE WHEN COALESCE(is_outlier, FALSE)
            THEN rolling_median ELSE value END AS repaired
FROM scored
ORDER BY event_id
""",
)
def ts_hampel_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier repair over each user's event-value series
    (centered 7-point frame, 3-sigma MAD rule). Medians and MADs are
    exact element picks from sorted frame arrays — no accumulation, so
    values, flags, and repairs are bit-identical cross-engine with no
    rounding contract at all (operators/windows.py:hampel_filter)."""
    events = load(spark, sf_dir, "events")
    out = ops.hampel_filter(
        events,
        "value",
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        half_window=3,
        n_sigmas=3.0,
    )
    return out.select(
        "event_id", "user_id", "value", "rolling_median", "is_outlier",
        "repaired",
    ).orderBy("event_id")


@query(
    "ts_seasonal_naive_backtest",
    oracle="""
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
), f AS (
  SELECT m, rev, LAG(rev, 12) OVER (ORDER BY m) AS forecast
  FROM monthly
)
SELECT CAST(COUNT(forecast) AS BIGINT) AS n_backtests,
       ROUND(AVG(ABS(rev - forecast)), 4) AS mae,
       ROUND(AVG(ABS(rev - forecast) / rev), 6) AS mape,
       ROUND(AVG(CASE WHEN forecast IS NOT NULL
                 THEN rev - forecast END), 4) AS mean_bias
FROM f
""",
)
def ts_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every fancier
    forecaster (Holt, decompose) must beat: predict each month with the
    value 12 months earlier, report MAE / MAPE / bias over the backtest
    months. Exact-decimal monthly series, one lag window over the
    report; errors are arithmetic on identical doubles. MAE/bias round at 4dp:
    the exact-cents/68 value grid has 0.0025 granularity, so no 4-dp
    rounding tie exists (a 2-dp rounding DID tie on the half-cent,
    splitting HALF_UP vs half-even across engines)."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    w = W.orderBy("m")
    f = monthly.select(
        "rev", F.lag("rev", 12).over(w).alias("forecast")
    )
    err = F.abs(F.col("rev") - F.col("forecast"))
    return f.agg(
        F.count("forecast").alias("n_backtests"),
        F.round(F.avg(err), 4).alias("mae"),
        F.round(F.avg(err / F.col("rev")), 6).alias("mape"),
        F.round(
            F.avg(
                F.when(
                    F.col("forecast").isNotNull(),
                    F.col("rev") - F.col("forecast"),
                )
            ),
            4,
        ).alias("mean_bias"),
    )


@query(
    "ts_dau_wau_mau_stickiness",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, user_id FROM events
), daily AS (
  SELECT day, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY day
), weekly AS (
  SELECT date_trunc('week', day) AS wk, COUNT(DISTINCT user_id) AS wau
  FROM d GROUP BY 1
), monthly AS (
  SELECT date_trunc('month', day) AS mon, COUNT(DISTINCT user_id) AS mau
  FROM d GROUP BY 1
)
SELECT daily.day,
       CAST(daily.dau AS BIGINT) AS dau,
       CAST(weekly.wau AS BIGINT) AS wau,
       CAST(monthly.mau AS BIGINT) AS mau,
       ROUND(daily.dau / CAST(monthly.mau AS DOUBLE), 6) AS stickiness
FROM daily
JOIN weekly ON date_trunc('week', daily.day) = weekly.wk
JOIN monthly ON date_trunc('month', daily.day) = monthly.mon
ORDER BY daily.day
""",
)
def ts_dau_wau_mau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU/WAU/MAU and the DAU/MAU stickiness ratio per day — the
    canonical engagement report: three distinct-count aggregations at
    different calendar grains joined back on the day's week/month keys
    (all skinny report-sized joins after the distinct pair collapse);
    stickiness is one division of exact integers."""
    events = load(spark, sf_dir, "events")
    d = events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    daily = d.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    weekly = d.groupBy(
        F.date_trunc("week", "day").alias("wk")
    ).agg(F.countDistinct("user_id").alias("wau"))
    monthly = d.groupBy(
        F.date_trunc("month", "day").alias("mon")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        daily.join(
            F.broadcast(weekly),
            F.date_trunc("week", F.col("day")) == F.col("wk"),
        )
        .join(
            F.broadcast(monthly),
            F.date_trunc("month", F.col("day")) == F.col("mon"),
        )
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "ts_load_profile_dow_hour",
    oracle="""
WITH e AS (
  SELECT EXTRACT(dow FROM ts) AS dow, EXTRACT(hour FROM ts) AS hr,
         CAST(ts AS DATE) AS day
  FROM events
)
SELECT CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hr,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       ROUND(COUNT(*) / CAST(COUNT(DISTINCT day) AS DOUBLE), 4)
         AS events_per_occurrence
FROM e GROUP BY dow, hr
ORDER BY dow, hr
""",
)
def ts_load_profile_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic load profile by (day-of-week × hour) — the capacity-
    planning heatmap: total events, distinct calendar days observed,
    and the normalized events-per-occurrence rate per cell. One
    aggregation; dow normalized to DuckDB's Sunday=0 (Spark dayofweek
    is 1-based — the calendar-edge battery pins this trap)."""
    events = load(spark, sf_dir, "events")
    e = events.select(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hr"),
        F.col("ts").cast("date").alias("day"),
    )
    return (
        e.groupBy("dow", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("day").alias("n_days"),
            F.round(
                F.count(F.lit(1)) / F.countDistinct("day").cast("double"),
                4,
            ).alias("events_per_occurrence"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "ts_daily_value_bands",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, value FROM events
  WHERE value IS NOT NULL
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.1), 4) AS p10,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90
FROM d GROUP BY day
ORDER BY day
""",
)
def ts_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p10/p50/p90 bands of the event value — the monitoring
    band-chart feed: per-day exact quantiles via the grouped distributed
    prefix sum (a hot day range-splits across partitions; no per-day
    sort funnel), 4-dp rounded interpolations."""
    from skope_api_spark.operators.stats import grouped_quantiles

    events = load(spark, sf_dir, "events")
    d = events.where(F.col("value").isNotNull()).select(
        F.col("ts").cast("date").alias("day"), "value"
    )
    d = d.localCheckpoint(eager=True)
    n = d.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    qs = grouped_quantiles(d, "value", [0.1, 0.5, 0.9], by=["day"])
    wide = qs.groupBy("day").agg(
        *[
            F.round(
                F.min(F.when(F.col("prob") == p, F.col("value"))), 4
            ).alias(a)
            for p, a in [(0.1, "p10"), (0.5, "p50"), (0.9, "p90")]
        ]
    )
    return n.join(wide, "day").orderBy("day")
