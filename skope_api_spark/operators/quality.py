"""Data-quality constraint checking — the deequ-style single-pass audit.

A production pipeline gates every ingest on a constraint report:
row-count floors, key uniqueness, completeness (non-null fraction),
value ranges. The scale-relevant property is that ALL constraints are
verified in ONE aggregation pass over the table (every check is an
algebraic aggregate with map-side partials), then reshaped to a narrow
(constraint, observed, passed) report — never one job per check.

Uniqueness uses count vs count(distinct); for approximate gating at
extreme scale swap in approx_count_distinct or the KMV sketch
(operators/sketches.py) — the report shape is unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def constraint_report(
    df: DataFrame,
    constraints: Sequence[tuple[str, Column, Column]],
) -> DataFrame:
    """One-pass constraint audit.

    ``constraints``: (name, observed_aggregate, passed_predicate) where
    ``passed_predicate`` is an expression over the SAME aggregation row
    (reference observed aggregates by their alias via F.col).

    Returns (constraint, observed double, passed boolean), one row per
    constraint, in the given order — computed from a single groupBy().agg.
    """
    if not constraints:
        raise ValueError("constraints must be non-empty")
    names = [name for name, _, _ in constraints]
    if len(set(names)) != len(names):
        raise ValueError("constraint names must be unique")
    agg_row = df.agg(
        *[obs.cast("double").alias(name) for name, obs, _ in constraints]
    )
    report = agg_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint"),
                        F.col(name).alias("observed"),
                        passed.alias("passed"),
                    )
                    for name, _, passed in constraints
                ]
            )
        ).alias("c")
    )
    return report.select("c.constraint", "c.observed", "c.passed")


def equi_width_histogram(
    df: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    buckets: int,
) -> DataFrame:
    """Equi-width histogram over fixed, caller-supplied bounds.

    Returns (bucket, lo double, hi double, n) — bucket 0 is the underflow
    bin and bucket+1 the overflow bin (width_bucket semantics); empty
    buckets are absent. ONE aggregation with map-side combine; fixed
    bounds (rather than a data-driven min/max subquery) keep the bin
    edges reproducible across engines and across incremental refreshes —
    pass the profiled domain, not the observed extremes.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if not lo < hi:
        raise ValueError("need lo < hi")
    width = (hi - lo) / buckets
    b = F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(buckets))
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(lo) + (F.col("bucket") - 1) * F.lit(width)).alias("lo"),
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("hi"),
            "n",
        )
    )


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    *,
    buckets: int,
    boundary_decimals: int = 2,
    tick_scale: int | None = None,
) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram: counts between exact
    percentile boundaries.

    Boundaries come from the DISTRIBUTED exact-quantile operator
    (operators/stats.py — range-partitioned value histogram + prefix
    sum; Spark's built-in exact ``percentile`` buffers every value in
    one reducer and measured ~150 s at sf1 where this plan takes ~5 s),
    then each row is binned with an in-scan aggregate fold over the
    broadcast boundary array — no ntile, no global ordering funnel.

    Two boundary modes:
    - default (``tick_scale=None``): interpolated-double boundaries
      rounded to ``boundary_decimals`` — fine for continuous data.
    - ``tick_scale=k``: for values on a fixed 1/k decimal grid (money,
      counts) — values become BIGINT ticks ``round(v·k)`` and boundaries
      come from ``exact_quantile_brackets``; the bucket comparison is
      integer cross-multiplication, so NO float threshold exists for an
      engine-build quantile-interpolation ulp to flip (the r8 rfm
      failure class; use this mode for any hashed contract on gridded
      data).

    Returns (bucket 1..buckets, n): bucket b holds rows in
    (q_{b-1}, q_b] except bucket 1, which is [min, q_1].
    """
    from skope_api_spark.operators.stats import (
        exact_quantile_brackets,
        exact_quantiles,
    )

    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    if tick_scale is not None:
        t = F.round(F.col(col) * F.lit(int(tick_scale))).cast("long")
        # r16: aggregate the corpus to its distinct-tick histogram ONCE
        # and run BOTH passes (quantile brackets AND bucket binning)
        # over it. The former shape re-scanned the corpus for the
        # binning crossJoin fold (and the bracket pass's internal
        # groupBy scanned it again): every downstream decision here
        # depends only on (tick, count) — bin each distinct tick, weight
        # by its count — so the corpus is touched exactly once at any
        # scale, and the fold runs over |distinct values| rows instead
        # of |corpus| rows. Bit-identical buckets: the same integer
        # comparison, summed with integer weights.
        ticks = df.where(F.col(col).isNotNull()).select(t.alias("__t"))
        counts = (
            ticks.groupBy("__t")
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint(eager=True)
        )
        br = exact_quantile_brackets(
            counts, "__t", list(range(1, buckets)), buckets,
            weight_col="__c",
        )
        # precompute each bracket's cross-multiplication RHS
        # (buckets·vlo + rem·(vhi−vlo), exact BIGINT) in the one-row
        # boundary aggregate, so the per-row fold is a bare long
        # compare — measured ~1.4× faster at sf0.1 than folding over
        # (vlo, vhi, rem) structs, with identical integer semantics
        bounds = br.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("num", "vlo", "vhi", "rem"))
                ),
                lambda b: b["vlo"] * buckets
                + b["rem"] * (b["vhi"] - b["vlo"]),
            ).alias("__bounds")
        )
        binned = counts.select(
            (F.col("__t") * buckets).alias("__tb"), "__c"
        ).crossJoin(F.broadcast(bounds))
        bucket = F.aggregate(
            F.col("__bounds"),
            F.lit(1),
            lambda acc, rhs: acc
            + F.when(F.col("__tb") > rhs, 1).otherwise(0),
        )
        return binned.groupBy(bucket.alias("bucket")).agg(
            F.sum("__c").alias("n")
        )
    qs = [i / buckets for i in range(1, buckets)]
    quants = exact_quantiles(df, col, qs)
    bounds = quants.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("prob"), F.col("value")))
            ),
            lambda s: F.round(s["value"], boundary_decimals),
        ).alias("__bounds")
    )
    binned = df.where(F.col(col).isNotNull()).crossJoin(F.broadcast(bounds))
    bucket = F.aggregate(
        F.col("__bounds"),
        F.lit(1),
        lambda acc, b: acc + F.when(F.col(col) > b, 1).otherwise(0),
    )
    return binned.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    *,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: every row
    should be indistinguishable from at least k-1 others on those
    columns, or the release re-identifies people.

    Two aggregations, both map-side combinable: equivalence-class sizes
    (groupBy the quasi-identifiers), then the class-size profile. NULL
    identifier values form their own class (standard treatment). Returns
    one row (n_rows, n_classes, k_min, n_rows_below_k, n_classes_below_k,
    anonymous boolean).
    """
    if not quasi_identifiers:
        raise ValueError("quasi_identifiers must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2")
    classes = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).alias("__size")
    )
    return classes.agg(
        F.sum("__size").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__size").alias("k_min"),
        F.coalesce(
            F.sum(F.when(F.col("__size") < k, F.col("__size"))), F.lit(0)
        ).alias("n_rows_below_k"),
        F.count(F.when(F.col("__size") < k, 1)).alias("n_classes_below_k"),
        (F.min("__size") >= k).alias("anonymous"),
    )


_PROFILE_NUMERIC = {"int", "bigint", "smallint", "tinyint", "double", "float"}


def column_profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    *,
    float_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Deequ-style whole-table column profiler in ONE aggregation pass:
    long-format (column, metric, value) rows with completeness, exact
    distinct count, and typed summary stats — min/max/mean for numeric
    columns, epoch min/max for timestamps, length stats for strings.

    Exactness contract: means accumulate as exact decimals (integers via
    decimal(38,0); floats via ``float_decimal``, which must match the
    data's true scale — the registry money-sum rule) and divide once in
    double, so every metric is deterministic cross-engine. The multiple
    exact COUNT(DISTINCT)s expand the plan (one Expand + aggregate —
    the documented cost of exactness; swap to approx_count_distinct for
    a cheap single-pass profile when 2% error is acceptable). Timestamp
    epochs use unix_timestamp, which reads the SESSION timezone — run
    under UTC (the repo's session default) for absolute cross-engine
    epoch parity.
    """
    cols = list(columns) if columns is not None else df.columns
    types = dict(df.dtypes)
    unknown = [c for c in cols if c not in types]
    if unknown:
        raise ValueError(f"unknown columns: {unknown}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    out_specs: list[tuple[str, str, str]] = []  # (column, metric, alias)

    def add(c: str, metric: str, expr) -> None:
        alias = f"__{len(out_specs)}"
        aggs.append(expr.alias(alias))
        out_specs.append((c, metric, alias))

    for c in cols:
        t = types[c]
        col = F.col(c)
        add(c, "n_nulls", F.count(F.lit(1)) - F.count(col))
        add(c, "n_distinct", F.countDistinct(col))
        if t in _PROFILE_NUMERIC:
            dec = "decimal(38,0)" if not t.startswith(("double", "float")) \
                else float_decimal
            add(c, "min", F.min(col).cast("double"))
            add(c, "max", F.max(col).cast("double"))
            add(c, "mean", F.try_divide(
                F.sum(col.cast(dec)).cast("double"), F.count(col)))
        elif t.startswith("timestamp"):
            add(c, "min_epoch", F.min(F.unix_timestamp(col)).cast("double"))
            add(c, "max_epoch", F.max(F.unix_timestamp(col)).cast("double"))
        elif t == "string":
            ln = F.length(col)
            add(c, "min_length", F.min(ln).cast("double"))
            add(c, "max_length", F.max(ln).cast("double"))
            add(c, "avg_length", F.try_divide(
                F.sum(ln.cast("decimal(38,0)")).cast("double"),
                F.count(col)))
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit("completeness").alias("metric"),
            F.try_divide(
                (F.col("__n") - F.col(alias)).cast("double"), F.col("__n")
            ).alias("value"),
        )
        if metric == "n_nulls"
        else F.struct(
            F.lit(c).alias("column"),
            F.lit(metric).alias("metric"),
            F.col(alias).cast("double").alias("value"),
        )
        for c, metric, alias in out_specs
    ]
    # n_rows once, plus completeness derived from the null counters
    structs.append(
        F.struct(
            F.lit("*").alias("column"),
            F.lit("n_rows").alias("metric"),
            F.col("__n").cast("double").alias("value"),
        )
    )
    return row.select(F.explode(F.array(*structs)).alias("m")).select(
        "m.column", "m.metric", "m.value"
    )
