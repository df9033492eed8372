"""Inference-statistics contract queries: grouped OLS regression and
hash-deterministic bootstrap resampling (operators/stats.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.contract.registry import (
    int_bracket_sql,
    query,
    round_nz,
    safe_corr,
)
from skope_api_spark.tables import load


@query(
    "stats_ols_price_by_flag",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       (ROUND(regr_slope(l_extendedprice, l_quantity), 6) + 0.0) AS slope,
       (ROUND(regr_intercept(l_extendedprice, l_quantity), 6) + 0.0) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 8) AS r2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def stats_ols_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag simple OLS of extendedprice on quantity — six
    algebraic sums in ONE hash aggregate, closed-form slope/intercept/R²
    in the projection (operators/stats.py:grouped_ols). The oracle is
    DuckDB's native regr_* family; both sides are population-moment
    formulas, 6-dp rounded against accumulation-order noise."""
    from skope_api_spark.operators.stats import grouped_ols

    li = load(spark, sf_dir, "lineitem")
    out = grouped_ols(
        li, y="l_extendedprice", x="l_quantity", by=["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        "n",
        round_nz("slope", 6).alias("slope"),
        round_nz("intercept", 6).alias("intercept"),
        F.round("r2", 8).alias("r2"),
    ).orderBy("l_returnflag")


_BOOT_B = 24
_BOOT_MEMBER = (
    "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':{b}'), 1, 15))"
    "::BIGINT % 1000000 < 500000"
)


def _boot_oracle() -> str:
    reps = "\nUNION ALL\n".join(
        f"""SELECT {b} AS replicate,
       CAST(COUNT(CASE WHEN {_BOOT_MEMBER.format(b=b)} THEN 1 END) AS BIGINT)
         AS n_rows,
       CAST(SUM(CASE WHEN {_BOOT_MEMBER.format(b=b)}
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN {_BOOT_MEMBER.format(b=b)} THEN 1 END) AS mean
FROM orders"""
        for b in range(_BOOT_B)
    )
    return f"SELECT * FROM (\n{reps}\n) ORDER BY replicate"


@query("stats_bootstrap_means_totalprice", oracle=_boot_oracle())
def stats_bootstrap_means_totalprice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """24 hash-deterministic half-subsample bootstrap replicates of
    mean(o_totalprice) in ONE scan — membership is the shared md5_long
    chain on (o_orderkey, replicate), so the oracle replays the exact
    sample sets; each replicate mean is an exact decimal(18,2) sum
    followed by one double division (bit-identical cross-engine, no
    rounding needed). The DuckDB side is a 24-way UNION ALL only because
    SQL lacks the loop — DuckDB still folds it into scans of the same
    table; Spark runs a genuinely single-pass 48-aggregate plan
    (operators/stats.py:bootstrap_replicate_means)."""
    from skope_api_spark.operators.stats import bootstrap_replicate_means

    orders = load(spark, sf_dir, "orders")
    out = bootstrap_replicate_means(
        orders,
        value_col="o_totalprice",
        id_col="o_orderkey",
        replicates=_BOOT_B,
        frac=0.5,
        value_decimals=2,
    )
    return out.orderBy("replicate")


@query(
    "ts_holt_forecast_daily_users",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
), series AS (
  SELECT user_id, LIST(v ORDER BY day) AS vals
  FROM daily GROUP BY user_id
), fitted AS (
  SELECT user_id, len(vals) AS n_points,
         list_reduce(
           [[CAST(x AS DOUBLE), 0.0] FOR x IN vals],
           (acc, e) -> [
             0.4 * e[1] + 0.6 * (acc[1] + acc[2]),
             0.2 * ((0.4 * e[1] + 0.6 * (acc[1] + acc[2])) - acc[1])
               + 0.8 * acc[2]
           ]
         ) AS acc
  FROM series
)
SELECT user_id, CAST(n_points AS INT) AS n_points,
       ROUND(acc[1], 6) AS level,
       ROUND(acc[2], 6) AS trend,
       ROUND(acc[1] + 1.0 * acc[2], 6) AS forecast_1,
       ROUND(acc[1] + 2.0 * acc[2], 6) AS forecast_2
FROM fitted
ORDER BY user_id
""",
)
def ts_holt_forecast_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear smoothing over each user's daily event-value series
    (alpha 0.4, beta 0.2, 2-step forecast) — the sequential recurrence a
    window cannot express, run as a JVM-side F.aggregate fold
    (operators/forecast.py). Series values are exact decimal(18,2) daily
    sums cast to double once, so the fold inputs are bit-identical
    cross-engine and the oracle is DuckDB's list_reduce replay of the
    same lambda (identical IEEE evaluation order; 6-dp rounding is
    belt-and-braces only)."""
    from skope_api_spark.operators.forecast import holt_forecast

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("v")
    )
    out = holt_forecast(
        daily,
        key_cols=("user_id",),
        order_col="day",
        value_col="v",
        alpha=0.4,
        beta=0.2,
        horizon=2,
    )
    return out.select(
        "user_id",
        F.col("n_points").cast("int").alias("n_points"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1", 6).alias("forecast_1"),
        F.round("forecast_2", 6).alias("forecast_2"),
    ).orderBy("user_id")


@query(
    "stats_robust_price_summary",
    oracle="""
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.5)  AS med,
         quantile_cont(l_extendedprice, 0.75)
           - quantile_cont(l_extendedprice, 0.25) AS iqr,
         ROUND(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
         ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS hi
  FROM lineitem
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_extendedprice >= q.lo
                        AND l_extendedprice <= q.hi
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
           / COUNT(CASE WHEN l_extendedprice >= q.lo
                         AND l_extendedprice <= q.hi THEN 1 END)
           AS trimmed_mean
  FROM lineitem CROSS JOIN q
), d AS (
  SELECT quantile_cont(ABS(l_extendedprice - q.med), 0.5) AS mad
  FROM lineitem CROSS JOIN q
)
SELECT t.n, ROUND(q.med, 4) AS median, ROUND(d.mad, 4) AS mad,
       ROUND(q.iqr, 4) AS iqr, ROUND(t.trimmed_mean, 4) AS trimmed_mean
FROM q CROSS JOIN t CROSS JOIN d
""",
)
def stats_robust_price_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale profile of l_extendedprice: exact median,
    MAD, IQR (distributed exact_quantiles — no single-reducer buffer),
    and the 5%-trimmed mean (4-dp-rounded trim bounds, then an exact
    decimal sum per the money rule). Trim bounds round at 4 dp, NOT 2:
    p05/p95 of cent-grid prices interpolate on a 0.0005 grid, which is
    EXACT at 4 dp (engine-build-proof recovery, ulp error ≪ the 5e-5
    margin) but ties on the half-cent at 2 dp — the r8 rfm class
    (PERF.md r9 quantile-boundary audit).
    operators/stats.py:robust_summary."""
    from skope_api_spark.operators.stats import robust_summary

    li = load(spark, sf_dir, "lineitem")
    out = robust_summary(
        li, "l_extendedprice", trim=0.05, boundary_decimals=4,
        value_decimals=2,
    )
    return out.select(
        "n",
        F.round("median", 4).alias("median"),
        F.round("mad", 4).alias("mad"),
        F.round("iqr", 4).alias("iqr"),
        F.round("trimmed_mean", 4).alias("trimmed_mean"),
    )


@query(
    "stats_auc_chars_vs_lang",
    oracle="""
WITH hist AS (
  SELECT CAST(n_chars AS DOUBLE) AS s,
         COUNT(CASE WHEN lang = 'en' THEN 1 END) AS np,
         COUNT(CASE WHEN lang <> 'en' THEN 1 END) AS nn
  FROM documents
  GROUP BY 1
), c AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM hist
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       (CAST(SUM(np * below) AS DOUBLE) + CAST(SUM(np * nn) AS DOUBLE) / 2.0)
         / CAST(SUM(np) * SUM(nn) AS DOUBLE) AS auc
FROM c
""",
)
def stats_auc_chars_vs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of document length predicting lang='en' —
    Mann-Whitney pair counting over the distinct-score histogram
    (operators/stats.py:binary_auc; the prefix sum is the shared
    range-partitioned distributed form, no global-order window, no row
    sort). All counts exact integers; the single final division is
    bit-identical cross-engine — no rounding in the contract."""
    from skope_api_spark.operators.stats import binary_auc

    docs = load(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return binary_auc(docs, score_col="n_chars", label_col="is_en")


@query(
    "ts_value_percentiles_by_type",
    oracle="""
SELECT event_type, CAST(0.05 AS DOUBLE) AS prob,
       ROUND(quantile_cont(value, 0.05), 6) AS value
FROM events GROUP BY event_type
UNION ALL
SELECT event_type, CAST(0.5 AS DOUBLE), ROUND(quantile_cont(value, 0.5), 6)
FROM events GROUP BY event_type
UNION ALL
SELECT event_type, CAST(0.95 AS DOUBLE), ROUND(quantile_cont(value, 0.95), 6)
FROM events GROUP BY event_type
ORDER BY event_type, prob
""",
)
def ts_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact percentiles — "p95 per service" — via the
    distributed (group, value)-histogram order-statistics plan
    (operators/stats.py:grouped_quantiles): one giant group range-splits
    across partitions instead of pinning one reducer the way
    groupBy().percentile() does."""
    from skope_api_spark.operators.stats import grouped_quantiles

    ev = load(spark, sf_dir, "events")
    out = grouped_quantiles(
        ev, "value", [0.05, 0.5, 0.95], by=["event_type"]
    )
    return out.select(
        "event_type", "prob", F.round("value", 6).alias("value")
    ).orderBy("event_type", "prob")


_ACF_LAGS = (1, 2, 3, 7)


def _acf_oracle() -> str:
    lag_cols = ",\n       ".join(
        f"(ROUND(corr(v, v_{k}), 6) + 0.0) AS acf_{k}" for k in _ACF_LAGS
    )
    lag_defs = ",\n         ".join(
        f"LAG(v, {k}) OVER (ORDER BY day) AS v_{k}" for k in _ACF_LAGS
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders GROUP BY 1
), lagged AS (
  SELECT v,
         {lag_defs}
  FROM daily
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       {lag_cols}
FROM lagged
"""


@query("ts_autocorrelation_daily_revenue", oracle=_acf_oracle())
def ts_autocorrelation_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1/2/3/7 — the
    seasonality screen run before fitting any forecaster. One daily
    rollup (exact decimal sums so the series is bit-identical
    cross-engine), one window pass producing all lags, Pearson corr per
    lag in a single aggregation. The lag-7 spike is the weekly cycle
    test."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("v")
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "v", *[F.lag("v", k).over(w).alias(f"v_{k}") for k in _ACF_LAGS]
    )
    return lagged.agg(
        F.count(F.lit(1)).alias("n_days"),
        *[
            round_nz(safe_corr("v", f"v_{k}"), 6).alias(f"acf_{k}")
            for k in _ACF_LAGS
        ],
    )


@query(
    "dq_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS d
  FROM orders WHERE o_totalprice >= 1
), counts AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
), tot AS (SELECT SUM(n) AS t FROM counts)
SELECT c.d AS first_digit, c.n AS n_values,
       ROUND(CAST(c.n AS DOUBLE) / tot.t, 6) AS observed_freq,
       ROUND(ln(1.0 + 1.0 / c.d) / ln(10.0), 6) AS benford_freq
FROM counts c CROSS JOIN tot
ORDER BY first_digit
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen (note: TPC-H-style uniform synthetic prices do
    NOT follow Benford; the report makes that visible, which is the
    point of running the audit on generated data). One scan, exact
    integer counts, broadcast total."""
    orders = load(spark, sf_dir, "orders")
    d = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        orders.where(F.col("o_totalprice") >= 1)
        .groupBy(d.alias("first_digit"))
        .agg(F.count(F.lit(1)).alias("n_values"))
    )
    tot = counts.agg(F.sum("n_values").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n_values",
            F.round(
                F.col("n_values").cast("double") / F.col("__t"), 6
            ).alias("observed_freq"),
            F.round(
                F.log(F.lit(1.0) + 1.0 / F.col("first_digit"))
                / F.log(F.lit(10.0)),
                6,
            ).alias("benford_freq"),
        )
        .orderBy("first_digit")
    )


@query(
    "stats_gini_order_revenue",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS i
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   FROM orders) AS DOUBLE), 2) AS total,
       ROUND(2.0 * SUM(i * v) / (COUNT(*) * SUM(v))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM s
""",
)
def stats_gini_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of order revenue — inequality measured
    WITHOUT sorting rows (operators/stats.py:gini_coefficient): tied-run
    rank sums over the distinct-value histogram with the shared
    distributed prefix sum. The oracle is the textbook ROW_NUMBER
    rank-sum form; tie order does not affect the sum because tied
    positions carry equal values.

    The reported ``total`` follows the registry money rule (exact
    DECIMAL accumulation, double at the edge): the operator's double
    total is a 1.5M-term order-dependent sum at ~4e11 magnitude, whose
    cross-engine ulp noise (~1e-2) straddled the 2-dp boundary at sf1 —
    the one red of the first full exact-precision sf1 sweep. ``gini``
    itself stays a rounded double ratio: magnitude ~0.33 with relative
    error ~1e-10 vs a 5e-7 half-grid, three orders of safety."""
    from skope_api_spark.operators.stats import gini_coefficient

    orders = load(spark, sf_dir, "orders")
    out = gini_coefficient(orders, "o_totalprice")
    tot = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("__total_exact")
    )
    return out.crossJoin(F.broadcast(tot)).select(
        "n",
        F.round("__total_exact", 2).alias("total"),
        F.round("gini", 6).alias("gini"),
    )


@query(
    "stats_ks_price_by_segment",
    oracle="""
WITH j AS (
  SELECT o_totalprice AS v, (c_mktsegment = 'BUILDING') AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
), h AS (
  SELECT v, COUNT(CASE WHEN g THEN 1 END) AS ca,
         COUNT(CASE WHEN NOT g THEN 1 END) AS cb
  FROM j GROUP BY v
), c AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS cum_a,
         SUM(cb) OVER (ORDER BY v) AS cum_b
  FROM h
), t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM h)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       CAST(MAX(ABS(c.cum_a * t.nb - c.cum_b * t.na)) AS DOUBLE)
         / CAST(t.na * t.nb AS DOUBLE) AS ks_d
FROM c CROSS JOIN t
GROUP BY t.na, t.nb
""",
)
def stats_ks_price_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic: does the BUILDING segment's order
    price distribution differ from everyone else's?
    (operators/stats.py:ks_two_sample — one distributed prefix pass over
    one value histogram carrying both counts, sup computed in exact
    cross-multiplied integers,
    one final division = bit-identical; null hypothesis on this synthetic
    data is near-identity, so D is tiny — the CONTRACT is the exactness,
    not the significance)."""
    from skope_api_spark.operators.stats import ks_two_sample

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    j = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        "o_totalprice", (F.col("c_mktsegment") == "BUILDING").alias("g")
    )
    return ks_two_sample(j, value_col="o_totalprice", group_col="g")


@query(
    "stats_contingency_type_hour",
    oracle="""
WITH cells AS (
  SELECT event_type AS a, EXTRACT(hour FROM ts) AS b,
         COUNT(*) AS n_ab
  FROM events GROUP BY 1, 2
), ma AS (SELECT a, SUM(n_ab) AS n_a FROM cells GROUP BY a),
mb AS (SELECT b, SUM(n_ab) AS n_b FROM cells GROUP BY b),
tot AS (SELECT SUM(n_ab) AS n, COUNT(DISTINCT a) AS ra,
               COUNT(DISTINCT b) AS rb FROM cells)
SELECT CAST(tot.n AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(SUM((c.n_ab / CAST(tot.n AS DOUBLE))
             * ln(CAST(c.n_ab * tot.n AS DOUBLE)
                  / CAST(ma.n_a * mb.n_b AS DOUBLE))), 6) AS mi_nats,
       ROUND(tot.n * (SUM(CAST(c.n_ab * c.n_ab AS DOUBLE)
             / CAST(ma.n_a * mb.n_b AS DOUBLE)) - 1.0), 4) AS chi2,
       ROUND(SQRT(tot.n * (SUM(CAST(c.n_ab * c.n_ab AS DOUBLE)
             / CAST(ma.n_a * mb.n_b AS DOUBLE)) - 1.0)
             / (tot.n * GREATEST(LEAST(tot.ra, tot.rb) - 1, 1))), 6)
         AS cramers_v
FROM cells c JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
GROUP BY tot.n, tot.ra, tot.rb
""",
)
def stats_contingency_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-dependence screen: MI / chi-square / Cramér's V
    between event_type and hour-of-day from one contingency aggregation
    (operators/stats.py:contingency_stats — checkpointed cells, marginals
    derived without a second corpus scan). Near-independence on the
    synthetic stream, which the near-zero V reports honestly."""
    from skope_api_spark.operators.stats import contingency_stats

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr")
    )
    out = contingency_stats(ev, col_a="event_type", col_b="hr")
    return out.select(
        "n",
        "n_cells",
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round("chi2", 4).alias("chi2"),
        F.round("cramers_v", 6).alias("cramers_v"),
    )


@query(
    "stats_welch_ttest_segment",
    oracle="""
WITH j AS (
  SELECT o_totalprice AS v, (c_mktsegment = 'BUILDING') AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
), m AS (
  SELECT COUNT(CASE WHEN g THEN 1 END) AS na,
         COUNT(CASE WHEN NOT g THEN 1 END) AS nb,
         SUM(CASE WHEN g THEN v END) AS sa,
         SUM(CASE WHEN NOT g THEN v END) AS sb,
         SUM(CASE WHEN g THEN v * v END) AS qa,
         SUM(CASE WHEN NOT g THEN v * v END) AS qb
  FROM j
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(sa / na, 4) AS mean_a,
       ROUND(sb / nb, 4) AS mean_b,
       (ROUND((sa / na - sb / nb)
         / SQRT(((qa - na * (sa/na) * (sa/na)) / (na - 1)) / na
              + ((qb - nb * (sb/nb) * (sb/nb)) / (nb - 1)) / nb), 4) + 0.0)
         AS t_stat,
       ROUND(POW(((qa - na*(sa/na)*(sa/na))/(na-1))/na
               + ((qb - nb*(sb/nb)*(sb/nb))/(nb-1))/nb, 2)
         / (POW(((qa - na*(sa/na)*(sa/na))/(na-1))/na, 2)/(na-1)
          + POW(((qb - nb*(sb/nb)*(sb/nb))/(nb-1))/nb, 2)/(nb-1)), 2)
         AS dof
FROM m
""",
)
def stats_welch_ttest_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test: BUILDING-segment order totals vs the rest —
    moments-only hypothesis test (operators/stats.py:welch_ttest, one
    aggregation), rounded at 4/2 dp against the naive-variance
    cancellation noise both engines share. The null is true here by
    construction, so |t| is small — the contract checks the arithmetic,
    not significance."""
    from skope_api_spark.operators.stats import welch_ttest

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_totalprice", (F.col("c_mktsegment") == "BUILDING").alias("g")
    )
    out = welch_ttest(j, value_col="o_totalprice", group_col="g")
    return out.select(
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        round_nz("t_stat", 4).alias("t_stat"),
        F.round("dof", 2).alias("dof"),
    )


@query(
    "feature_rank_normalize_price",
    oracle="""
WITH h AS (
  SELECT l_extendedprice AS v, COUNT(*) AS c FROM lineitem GROUP BY 1
), r AS (
  SELECT v, (SUM(c) OVER (ORDER BY v) - c / 2.0)
            / (SELECT SUM(c) FROM h) AS rn
  FROM h
)
SELECT ROUND(rn, 8) AS rank_norm, CAST(h.c AS BIGINT) AS n_rows
FROM h JOIN r USING (v)
ORDER BY rank_norm
LIMIT 100
""",
)
def feature_rank_normalize_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank (quantile) normalization of l_extendedprice — the monotone
    outlier-immune feature transform (operators/stats.py:rank_normalize,
    distributed prefix sum over the value histogram, mid-rank ties).
    Reported as the lowest 100 normalized values with their
    multiplicities; mid-ranks are exact (integer - c/2)/n rationals, so
    8-dp rounding carries no tie risk."""
    from skope_api_spark.operators.stats import rank_normalize

    li = load(spark, sf_dir, "lineitem")
    out = rank_normalize(li, "l_extendedprice")
    return (
        out.groupBy(F.round("rank_norm", 8).alias("rank_norm"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("rank_norm")
        .limit(100)
    )


_MONTHLY_IDX_SQL = """
monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM orders GROUP BY 1
), idx AS (
  SELECT CAST(date_diff('month', (SELECT MIN(m) FROM monthly), m) AS BIGINT)
           AS x,
         y
  FROM monthly
)"""


def _monthly_revenue_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly exact-decimal revenue as an (x, y) series — integer month
    index from the series minimum (both dates are month-truncated, so
    months_between is an exact integer) and a bit-identical double y."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    m0 = monthly.agg(F.min("m").alias("m0"))
    return monthly.crossJoin(F.broadcast(m0)).select(
        F.months_between("m", "m0").cast("long").alias("x"), "y"
    )


@query(
    "ts_mann_kendall_monthly_revenue",
    oracle=f"""
WITH {_MONTHLY_IDX_SQL},
pairs AS (
  SELECT a.y AS yi, b.y AS yj FROM idx a JOIN idx b ON b.x > a.x
), s AS (
  SELECT CAST(COALESCE(SUM(SIGN(yj - yi)), 0) AS BIGINT) AS s_stat,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) / 2.0), 0.0) AS n1,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS DOUBLE)
           AS tievar
  FROM (SELECT COUNT(*) AS t FROM idx GROUP BY y) tt WHERE t > 1
)
SELECT n, s_stat, n_pairs,
       (ROUND(s_stat / SQRT((n * (n - 1) / 2.0 - n1)
                           * (n * (n - 1) / 2.0)), 6) + 0.0) AS tau_b,
       (ROUND(CASE WHEN s_stat = 0 THEN 0.0
             ELSE (s_stat - SIGN(s_stat))
                  / SQRT((n * (n - 1) * (2.0 * n + 5) - tievar) / 18.0)
             END, 6) + 0.0) AS z
FROM s, nn, ties
""",
)
def ts_mann_kendall_monthly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the monthly revenue series —
    the nonparametric "is this KPI drifting" screen. S and the tie terms
    are exact integers over the exact-decimal series; only the final
    tau-b / z divisions are floats (6-dp rounded). The pair join is the
    documented bounded broadcast over the ~80-row report
    (operators/stats.py:mann_kendall)."""
    from skope_api_spark.operators.stats import mann_kendall

    series = _monthly_revenue_series(spark, sf_dir)
    out = mann_kendall(series, x="x", y="y")
    return out.select(
        "n",
        "s_stat",
        "n_pairs",
        round_nz("tau_b", 6).alias("tau_b"),
        round_nz("z", 6).alias("z"),
    )


@query(
    "ts_theil_sen_monthly_revenue",
    oracle=f"""
WITH {_MONTHLY_IDX_SQL},
slopes AS (
  SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS sl
  FROM idx a JOIN idx b ON b.x > a.x
), m AS (SELECT MEDIAN(sl) AS slope FROM slopes),
resid AS (SELECT y - m.slope * x AS r FROM idx, m)
SELECT CAST((SELECT COUNT(*) FROM idx) AS BIGINT) AS n,
       (ROUND(m.slope, 6) + 0.0) AS slope,
       (ROUND((SELECT MEDIAN(r) FROM resid), 6) + 0.0) AS intercept
FROM m
""",
)
def ts_theil_sen_monthly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-Sen robust trend line over monthly revenue — median pairwise
    slope + median residual intercept, the outlier-immune cousin of
    stats_ols_price_by_flag. Both medians are exact interpolating
    percentiles in both engines, and the intercept residuals use the
    UNROUNDED slope so the inputs are bit-identical before the single
    6-dp rounding (operators/stats.py:theil_sen)."""
    from skope_api_spark.operators.stats import theil_sen

    series = _monthly_revenue_series(spark, sf_dir)
    out = theil_sen(series, x="x", y="y")
    return out.select(
        "n",
        round_nz("slope", 6).alias("slope"),
        round_nz("intercept", 6).alias("intercept"),
    )


_CHAR_DECILE_BOUNDS = ", ".join(
    f"ROUND(quantile_cont(n_chars, {i / 10}), 2)" for i in range(1, 10)
)


@query(
    "stats_calibration_chars_vs_lang",
    oracle=f"""
WITH b AS (
  SELECT [{_CHAR_DECILE_BOUNDS}] AS bounds FROM documents
), binned AS (
  SELECT 1 + len(list_filter(b.bounds, x -> n_chars > x)) AS bucket,
         (lang = 'en') AS pos
  FROM documents CROSS JOIN b
  WHERE n_chars IS NOT NULL
), per AS (
  SELECT bucket, COUNT(*) AS n,
         COUNT(CASE WHEN pos THEN 1 END) AS n_pos
  FROM binned GROUP BY bucket
), tot AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM per),
cum AS (
  SELECT bucket, n, n_pos,
         SUM(n) OVER (ORDER BY bucket DESC
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n_pos) OVER (ORDER BY bucket DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_pos
  FROM per
)
SELECT CAST(bucket AS INT) AS bucket, CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       ROUND(n_pos / CAST(n AS DOUBLE), 6) AS pos_rate,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
       ROUND(cum_pos / CAST(tp AS DOUBLE), 6) AS cum_gain,
       ROUND((cum_pos / CAST(cum_n AS DOUBLE))
             / (tp / CAST(tn AS DOUBLE)), 6) AS cum_lift
FROM cum, tot
ORDER BY bucket DESC
""",
)
def stats_calibration_chars_vs_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decile lift-and-gain table for n_chars as a predictor of the
    English class — the campaign-targeting companion of
    stats_auc_chars_vs_lang on the same signal. Exact-quantile decile
    boundaries (2-dp-rounded, distributed), in-scan fold binning, exact
    integer counts; every rate is a single division
    (operators/stats.py:calibration_table)."""
    from skope_api_spark.operators.stats import calibration_table

    docs = load(spark, sf_dir, "documents")
    out = calibration_table(
        docs, score_col="n_chars", label=F.col("lang") == "en", buckets=10
    )
    return out.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n",
        "n_pos",
        F.round("pos_rate", 6).alias("pos_rate"),
        "cum_n",
        "cum_pos",
        F.round("cum_gain", 6).alias("cum_gain"),
        F.round("cum_lift", 6).alias("cum_lift"),
    )


@query(
    "feature_loo_target_encode",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS cat,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders GROUP BY 1
)
SELECT o.o_orderkey, g.cat, CAST(g.n AS BIGINT) AS cat_n,
       CASE WHEN g.n > 1 THEN CAST(
         (20000 * CAST((g.s - CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                       AS BIGINT) + (g.n - 1)) // (2 * (g.n - 1))
         AS DOUBLE) / 1000000.0 END AS loo_mean
FROM orders o JOIN g ON o.o_orderpriority = g.cat
ORDER BY o.o_orderkey
""",
)
def feature_loo_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against total
    price — THE leakage-controlled categorical encoder: each row's
    encoding is the category's target mean EXCLUDING the row itself
    ((Σ − y_i)/(n − 1)), so the feature never memorizes its own label.
    One skinny category aggregation (exact decimal sums) broadcast back;
    the subtraction is exact decimal. The 6-dp encoding rounds by
    INTEGER HALF_UP on exact cents — loo*1e6 = 1e4*(S-x)_cents/(n-1),
    an exact-decimal-over-count ratio, the cohort-LTV repr-tie shape:
    the sf1 tie audit found 47 DIVERGING cells that sf0.01 never
    produces (larger cumulative cents reach tie-landing residues).
    (2p+q) DIV (2q) is bit-identical on both engines; headroom 2e4 *
    category cents ~ 8e17 at sf9 vs BIGINT 9.2e18. Singleton categories
    encode NULL rather than leaking y_i."""
    orders = load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.count(F.lit(1)).alias("cat_n"), F.sum(dec).alias("__s")
    )
    j = orders.join(
        F.broadcast(g), orders["o_orderpriority"] == g["cat"]
    ).withColumn("__dc", ((F.col("__s") - dec) * 100).cast("long"))
    loo = F.when(
        F.col("cat_n") > 1,
        F.expr(
            "CAST((20000 * __dc + (cat_n - 1)) DIV (2 * (cat_n - 1))"
            " AS DOUBLE) / 1000000.0"
        ),
    )
    return j.select(
        "o_orderkey",
        "cat",
        "cat_n",
        loo.alias("loo_mean"),
    ).orderBy("o_orderkey")


@query(
    "stats_two_proportion_ab",
    oracle="""
WITH g AS (
  SELECT (user_id % 2 = 0) AS variant_a,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS conv
  FROM events GROUP BY 1
), w AS (
  SELECT MAX(CASE WHEN variant_a THEN n END) AS na,
         MAX(CASE WHEN variant_a THEN conv END) AS ca,
         MAX(CASE WHEN NOT variant_a THEN n END) AS nb,
         MAX(CASE WHEN NOT variant_a THEN conv END) AS cb
  FROM g
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       ROUND(ca / CAST(na AS DOUBLE), 6) AS rate_a,
       ROUND(cb / CAST(nb AS DOUBLE), 6) AS rate_b,
       (ROUND((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             / SQRT((ca + cb) / CAST(na + nb AS DOUBLE)
                    * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                    * (1.0 / na + 1.0 / nb)), 6) + 0.0) AS z
FROM w
""",
)
def stats_two_proportion_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the A/B conversion comparison: users
    hash-split by parity into variants, purchase-rate difference over
    the pooled standard error. ONE conditional aggregation produces all
    four exact integers; z is pure arithmetic on them (single rounding).
    """
    events = load(spark, sf_dir, "events")
    g = events.groupBy(
        (F.col("user_id") % 2 == 0).alias("variant_a")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "conv"
        ),
    )
    w = g.agg(
        F.max(F.when(F.col("variant_a"), F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant_a"), F.col("conv"))).alias("conv_a"),
        F.max(F.when(~F.col("variant_a"), F.col("n"))).alias("n_b"),
        F.max(F.when(~F.col("variant_a"), F.col("conv"))).alias("conv_b"),
    )
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    pool = (ca + cb) / (na + nb)
    # try_divide: pooled rate 0 or 1 (e.g. zero conversions in a dirty
    # shard) makes the standard error 0 and z undefined — NULL, not an
    # ANSI job failure (DuckDB x/0 is NULL, so the oracle agrees)
    z = F.try_divide(
        ca / na - cb / nb,
        F.sqrt(pool * (1 - pool) * (1.0 / na + 1.0 / nb)),
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        round_nz(z, 6).alias("z"),
    )


@query(
    "stats_kaplan_meier_user_lifetime",
    oracle="""
WITH span AS (
  SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
  GROUP BY user_id
), horizon AS (SELECT MAX(ts) AS end_ts FROM events),
obs AS (
  SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000
           AS duration_h,
         (last_ts < end_ts - INTERVAL '6 hours') AS churned
  FROM span, horizon
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
grp AS (
  SELECT duration_h,
         CAST(COUNT(CASE WHEN churned THEN 1 END) AS BIGINT) AS d,
         CAST(COUNT(CASE WHEN NOT churned THEN 1 END) AS BIGINT) AS c
  FROM obs GROUP BY duration_h
), risk AS (
  SELECT duration_h, d, c,
         tot.n - COALESCE(SUM(d + c) OVER (ORDER BY duration_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grp, tot
)
SELECT duration_h, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       c AS n_censored,
       ROUND(EXP(SUM(CASE WHEN d > 0 THEN LN(1.0 - d / CAST(n_risk AS DOUBLE))
                     ELSE 0.0 END)
                 OVER (ORDER BY duration_h ROWS UNBOUNDED PRECEDING)), 6)
         AS survival
FROM risk
ORDER BY duration_h
""",
)
def stats_kaplan_meier_user_lifetime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival of user activity lifetimes (hour
    resolution): users whose last event precedes the observation horizon
    by > 6 h count as churn events at their lifetime; later users are
    right-censored. The risk set is exact-integer window arithmetic over
    the |durations| report; the product-limit estimator runs as
    exp(Σ ln(1 − d/n)) — one ordered window over the report, 6-dp
    rounded against ln/exp accumulation noise."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    span = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    horizon = events.agg(F.max("ts").alias("end_ts"))
    obs = span.crossJoin(F.broadcast(horizon)).select(
        # microsecond-exact integer floor-div: unix_timestamp truncates
        # to whole SECONDS while DuckDB's EPOCH keeps fractions — at sf1
        # that divergence reclassified a user sitting exactly on an hour
        # boundary (caught by the 10x step-up sweep)
        F.expr(
            "(unix_micros(last_ts) - unix_micros(first_ts))"
            " div 3600000000"
        ).alias("duration_h"),
        (
            F.col("last_ts")
            < F.col("end_ts") - F.expr("INTERVAL 6 HOURS")
        ).alias("churned"),
    )
    tot = obs.agg(F.count(F.lit(1)).alias("__n"))
    grp = obs.groupBy("duration_h").agg(
        F.count(F.when(F.col("churned"), 1)).alias("n_events"),
        F.count(F.when(~F.col("churned"), 1)).alias("n_censored"),
    )
    wprev = W.orderBy("duration_h").rowsBetween(
        W.unboundedPreceding, -1
    )
    wcum = W.orderBy("duration_h").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = grp.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("__n")
        - F.coalesce(
            F.sum(F.col("n_events") + F.col("n_censored")).over(wprev),
            F.lit(0),
        ),
    )
    surv = F.exp(
        F.sum(
            F.when(
                F.col("n_events") > 0,
                F.log(
                    1.0
                    - F.col("n_events") / F.col("n_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0))
        ).over(wcum)
    )
    return risk.select(
        "duration_h",
        "n_risk",
        "n_events",
        "n_censored",
        F.round(surv, 6).alias("survival"),
    ).orderBy("duration_h")


@query(
    "feature_winsorize_price",
    oracle=f"""
WITH ticks AS MATERIALIZED (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS t FROM lineitem
), b AS MATERIALIZED ({int_bracket_sql('ticks', 't', [1, 99], 100)}),
bounds AS (
  SELECT 100 * b.t[1].vlo + b.t[1].rem * (b.t[1].vhi - b.t[1].vlo) AS lo_d,
         100 * b.t[2].vlo + b.t[2].rem * (b.t[2].vhi - b.t[2].vlo) AS hi_d
  FROM b
), w AS (
  SELECT CASE WHEN t * 100 < lo_d THEN lo_d
              WHEN t * 100 > hi_d THEN hi_d
              ELSE t * 100 END AS wd,
         (t * 100 < lo_d OR t * 100 > hi_d) AS clipped
  FROM ticks, bounds
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN clipped THEN 1 END) AS BIGINT) AS n_clipped,
       ROUND(CAST(SUM(wd) AS DOUBLE) / 10000.0 / COUNT(*), 6)
         AS winsorized_mean,
       ROUND(CAST(MIN(wd) AS DOUBLE) / 10000.0, 4) AS min_wv,
       ROUND(CAST(MAX(wd) AS DOUBLE) / 10000.0, 4) AS max_wv
FROM w
""",
)
def feature_winsorize_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized extended price at [p01, p99] with INTEGER-EXACT
    interpolated bounds (operators/stats.py:winsorize_ticks — cent
    ticks, bounds carried as exact integers in d·tick units, clip
    comparisons and clipped values never leave BIGINT arithmetic; the
    r8 rfm class fix — the old 2-dp-rounded bound could tie on a
    half-cent, where an engine-build quantile ulp flips the rounding
    and every comparison against it). The winsorized mean is ONE
    division of an exact integer sum; min/max recover their 1e-4-grid
    values exactly at 4 dp."""
    from skope_api_spark.operators.stats import winsorize_ticks

    li = load(spark, sf_dir, "lineitem")
    w = winsorize_ticks(li, "l_extendedprice")
    wd = F.col("l_extendedprice_winsorized_dticks")
    torig = F.round(F.col("l_extendedprice") * 100).cast("long") * 100
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(wd != torig, 1)).alias("n_clipped"),
        F.round(
            F.sum(wd).cast("double") / F.lit(10000.0) / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
        F.round(F.min(wd).cast("double") / F.lit(10000.0), 4).alias(
            "min_wv"
        ),
        F.round(F.max(wd).cast("double") / F.lit(10000.0), 4).alias(
            "max_wv"
        ),
    )


@query(
    "stats_moments_battery",
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS grp,
         COUNT(*)::DOUBLE AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS s1,
         SUM(CAST(o_totalprice AS DOUBLE) ** 2) AS s2,
         SUM(CAST(o_totalprice AS DOUBLE) ** 3) AS s3,
         SUM(CAST(o_totalprice AS DOUBLE) ** 4) AS s4
  FROM orders GROUP BY 1
), c AS (
  SELECT grp, n,
         s1 / n AS mu,
         s2 / n - (s1 / n) ** 2 AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) ** 3 AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) ** 2 * (s2 / n)
           - 3 * (s1 / n) ** 4 AS m4
  FROM m
)
SELECT grp, CAST(n AS BIGINT) AS n, ROUND(mu, 4) AS mean,
       (ROUND(m3 / (m2 ** 1.5), 4) + 0.0) AS pop_skewness,
       (ROUND(m4 / (m2 ** 2) - 3.0, 4) + 0.0) AS pop_excess_kurtosis
FROM c
ORDER BY grp
""",
)
def stats_moments_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of order totals per
    priority — computed from raw moment sums (Σx..Σx⁴) with the central-
    moment identities ON BOTH SIDES, because the engines' NATIVE
    skewness/kurtosis disagree on the sample-correction convention
    (DuckDB applies g1/g2 corrections, Spark does not): the battery pins
    a definition instead of hoping the builtins align. 4-dp rounding
    covers double accumulation-order noise in the Σxᵏ sums."""
    orders = load(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    m = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * mu * (F.col("s2") / F.col("n"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(mu, 4).alias("mean"),
        # try_divide: a single-row (or constant) group has m2 = 0 and
        # undefined skew/kurt — NULL, not an ANSI job failure
        round_nz(F.try_divide(m3, F.pow(m2, 1.5)), 4).alias(
            "pop_skewness"
        ),
        round_nz(F.try_divide(m4, m2 * m2) - 3.0, 4).alias(
            "pop_excess_kurtosis"
        ),
    ).orderBy("grp")


@query(
    "stats_weighted_quantiles_price_by_qty",
    oracle="""
WITH hist AS (
  SELECT l_extendedprice AS v, CAST(SUM(l_quantity) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
  FROM hist
), tot AS (SELECT SUM(c) AS w FROM hist),
t(k, d) AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) x(k, d))
SELECT t.k, t.d, t.k / CAST(t.d AS DOUBLE) AS prob,
       MIN(cum.v) AS value
FROM t, tot, cum
WHERE cum.cw * t.d >= t.k * tot.w
GROUP BY t.k, t.d
ORDER BY prob
""",
)
def stats_weighted_quantiles_price_by_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price quantiles (p50/p90/p99): the smallest
    price at which the cumulative QUANTITY reaches the target share —
    every threshold an integer cross-multiplication over the distributed
    prefix sum, so no float comparison exists to diverge
    (operators/stats.py:weighted_quantiles)."""
    from skope_api_spark.operators.stats import weighted_quantiles

    li = load(spark, sf_dir, "lineitem")
    out = weighted_quantiles(
        li, "l_extendedprice", "l_quantity", [(1, 2), (9, 10), (99, 100)]
    )
    return out.orderBy("prob")


@query(
    "feature_robust_scale_price",
    oracle=f"""
WITH ticks AS MATERIALIZED (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS t FROM lineitem
), br AS MATERIALIZED ({int_bracket_sql('ticks', 't', [1, 2, 3], 4)}),
b AS (
  SELECT 4 * br.t[2].vlo + br.t[2].rem * (br.t[2].vhi - br.t[2].vlo)
           AS med4,
         (4 * br.t[3].vlo + br.t[3].rem * (br.t[3].vhi - br.t[3].vlo))
         - (4 * br.t[1].vlo + br.t[1].rem * (br.t[1].vhi - br.t[1].vlo))
           AS iqr4
  FROM br
), scaled AS (
  SELECT t * 4 - b.med4 AS zn, b.iqr4 FROM ticks, b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       (ROUND(CAST(MIN(zn) AS DOUBLE) / ANY_VALUE(iqr4), 6) + 0.0)
         AS min_z,
       (ROUND(CAST(MAX(zn) AS DOUBLE) / ANY_VALUE(iqr4), 6) + 0.0)
         AS max_z,
       (ROUND(CAST(SUM(zn) AS DOUBLE) / ANY_VALUE(iqr4) / COUNT(*), 6)
         + 0.0) AS mean_z,
       CAST(COUNT(CASE WHEN abs(zn) > 2 * iqr4 THEN 1 END) AS BIGINT)
         AS n_outside_2iqr
FROM scaled
""",
)
def feature_robust_scale_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaling (x − median)/IQR — the outlier-immune companion of
    z-scoring, completing the transform trio with rank_normalize and
    winsorize_ticks. Median and IQR are carried as EXACT integers in
    quarter-cent-tick units (stats.py:exact_quantile_brackets: 4·q =
    4·vlo + rem·(vhi − vlo) is an integer for quartiles of an integer
    column), so the scaled numerator zn = 4·t − med4 is BIGINT, the
    2-IQR outlier comparison is pure integer arithmetic, and every
    reported double is one division of identical integers — the r8 rfm
    class fix (the old 2-dp-rounded med/iqr could tie on a half-cent).
    mean_z replaces the former median_z (which this construction makes
    identically ~0 — the mean actually carries information about the
    skew of the scaled distribution)."""
    from skope_api_spark.operators.stats import exact_quantile_brackets

    li = load(spark, sf_dir, "lineitem")
    ticks = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("t")
    )
    br = exact_quantile_brackets(ticks, "t", [1, 2, 3], 4)
    qd = F.col("vlo") * 4 + F.col("rem") * (F.col("vhi") - F.col("vlo"))
    b = br.agg(
        F.min(F.when(F.col("num") == 2, qd)).alias("__med4"),
        (
            F.min(F.when(F.col("num") == 3, qd))
            - F.min(F.when(F.col("num") == 1, qd))
        ).alias("__iqr4"),
    )
    scaled = ticks.crossJoin(F.broadcast(b)).select(
        (F.col("t") * 4 - F.col("__med4")).alias("zn"), F.col("__iqr4")
    )
    iqr4 = F.any_value("__iqr4")
    return scaled.agg(
        F.count(F.lit(1)).alias("n"),
        # try_divide: a constant-price (or single-row) shard has
        # iqr4 = 0 — scaled z undefined → NULL, not an ANSI job failure
        round_nz(F.try_divide(F.min("zn").cast("double"), iqr4), 6).alias(
            "min_z"
        ),
        round_nz(F.try_divide(F.max("zn").cast("double"), iqr4), 6).alias(
            "max_z"
        ),
        round_nz(
            F.try_divide(F.sum("zn").cast("double"), iqr4)
            / F.count(F.lit(1)),
            6,
        ).alias("mean_z"),
        F.count(
            F.when(F.abs(F.col("zn")) > 2 * F.col("__iqr4"), 1)
        ).alias("n_outside_2iqr"),
    )


@query(
    "dq_psi_order_totals_by_segment",
    oracle=f"""
WITH seg AS MATERIALIZED (
  SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS t,
         (c.c_mktsegment = 'AUTOMOBILE') AS is_ref
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ref AS MATERIALIZED (SELECT t FROM seg WHERE is_ref),
b AS MATERIALIZED ({int_bracket_sql('ref', 't', range(1, 10), 10)}),
binned AS (
  SELECT 1 + len(list_filter(b.t,
           s -> seg.t * 10 > s.vlo * 10 + s.rem * (s.vhi - s.vlo)))
           AS bucket,
         seg.is_ref
  FROM seg CROSS JOIN b
), counts AS (
  SELECT bucket,
         COUNT(CASE WHEN is_ref THEN 1 END) + 0.5 AS p_n,
         COUNT(CASE WHEN NOT is_ref THEN 1 END) + 0.5 AS q_n
  FROM binned GROUP BY bucket
), tot AS (SELECT SUM(p_n) AS pt, SUM(q_n) AS qt FROM counts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(SUM((p_n / pt - q_n / qt) * LN((p_n / pt) / (q_n / qt))), 6)
         AS psi
FROM counts, tot
""",
)
def dq_psi_order_totals_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Population Stability Index between AUTOMOBILE-segment order
    totals (reference) and everyone else — THE model-monitoring drift
    metric: decile bins from the REFERENCE slice's exact quantiles as
    INTEGER-EXACT cent-tick brackets (stats.py:exact_quantile_brackets;
    the r8 rfm class — cent-grid totals vs ROUND(decile, 2) could tie
    on a half-cent), Σ (p−q)·ln(p/q) over bin shares, 0.5-Laplace
    smoothing so empty bins stay finite and deterministic (documented
    convention; classic rule of thumb: psi < 0.1 stable, > 0.25
    shifted). One scan after the broadcast customer-segment join;
    counts are exact integers binned by integer cross-multiplication."""
    from skope_api_spark.operators.stats import exact_quantile_brackets

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    seg = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("t"),
        (F.col("c_mktsegment") == "AUTOMOBILE").alias("is_ref"),
    )
    seg = seg.localCheckpoint(eager=True)
    br = exact_quantile_brackets(
        seg.where(F.col("is_ref")), "t", list(range(1, 10)), 10
    )
    bounds = br.agg(
        F.array_sort(
            F.collect_list(F.struct("num", "vlo", "vhi", "rem"))
        ).alias("__bounds")
    )
    binned = seg.crossJoin(F.broadcast(bounds))
    bucket = F.aggregate(
        F.col("__bounds"),
        F.lit(1),
        lambda acc, b: acc
        + F.when(
            F.col("t") * 10 > b["vlo"] * 10 + b["rem"] * (b["vhi"] - b["vlo"]),
            1,
        ).otherwise(0),
    )
    counts = binned.groupBy(bucket.alias("bucket")).agg(
        (F.count(F.when(F.col("is_ref"), 1)) + 0.5).alias("p_n"),
        (F.count(F.when(~F.col("is_ref"), 1)) + 0.5).alias("q_n"),
    )
    tot = counts.agg(
        F.sum("p_n").alias("__pt"), F.sum("q_n").alias("__qt")
    )
    p = F.col("p_n") / F.col("__pt")
    q = F.col("q_n") / F.col("__qt")
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
    )


@query(
    "stats_auc_by_source",
    oracle="""
WITH d AS (
  SELECT source, n_chars AS s, (lang = 'en') AS y FROM documents
), hist AS (
  SELECT source, s, COUNT(CASE WHEN y THEN 1 END) AS np,
         COUNT(CASE WHEN NOT y THEN 1 END) AS nn
  FROM d GROUP BY source, s
), cum AS (
  SELECT source, s, np, nn,
         COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM hist
)
SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
         (SUM(np * below) + SUM(np * nn) / 2.0)
         / CAST(SUM(np) * SUM(nn) AS DOUBLE) END AS auc
FROM cum GROUP BY source
ORDER BY source
""",
)
def stats_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced exact AUC: how well n_chars separates English per SOURCE —
    the subpopulation degradation check on the same signal as the
    global stats_auc_chars_vs_lang. Per-group Mann-Whitney counting
    over (source, score) histograms with the per-group distributed
    prefix sum; exact integers, single division, no rounding needed
    (operators/stats.py:grouped_auc)."""
    from skope_api_spark.operators.stats import grouped_auc

    docs = load(spark, sf_dir, "documents")
    out = grouped_auc(
        docs,
        score_col="n_chars",
        label_col=(F.col("lang") == "en"),
        by=["source"],
    )
    return out.orderBy("source")


@query(
    "stats_return_rate_wilson_by_flag_status",
    oracle="""
WITH r AS (
  SELECT l_linestatus AS status,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
           AS n_returned
  FROM lineitem GROUP BY 1
)
SELECT status, n, n_returned,
       ROUND(n_returned / CAST(n AS DOUBLE), 6) AS return_rate,
       ROUND((n_returned / CAST(n AS DOUBLE) + 1.96 * 1.96 / (2 * n)
              - 1.96 * SQRT((n_returned / CAST(n AS DOUBLE))
                            * (1 - n_returned / CAST(n AS DOUBLE)) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
       ROUND((n_returned / CAST(n AS DOUBLE) + 1.96 * 1.96 / (2 * n)
              + 1.96 * SQRT((n_returned / CAST(n AS DOUBLE))
                            * (1 - n_returned / CAST(n AS DOUBLE)) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
FROM r
ORDER BY status
""",
)
def stats_return_rate_wilson_by_flag_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Return-rate proportions per line status with Wilson 95% score
    intervals — the coverage-correct CI for proportions (never escapes
    [0,1], behaves at extreme rates, unlike the naive Wald interval).
    ONE conditional aggregation; the interval is closed-form arithmetic
    on exact integers, 6-dp rounded once."""
    li = load(spark, sf_dir, "lineitem")
    r = li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias(
            "n_returned"
        ),
    )
    n = F.col("n").cast("double")
    p = F.col("n_returned") / n
    z = 1.96
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return r.select(
        "status",
        "n",
        "n_returned",
        F.round(p, 6).alias("return_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("status")
