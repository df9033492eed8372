"""Inference statistics as single-pass aggregations: grouped OLS fits and
hash-deterministic bootstrap resampling.

Scale shapes (the point of each design):

- **grouped OLS** — a simple linear regression per group is six algebraic
  sums (n, Σx, Σy, Σxy, Σx², Σy²); ONE hash aggregate with map-side
  combine, closed-form slope/intercept/R² in the projection. No per-group
  solver, no second pass.
- **bootstrap** — B subsample replicates are B *conditional aggregates in
  one scan*: replicate b keeps a row iff the shared ``md5_long`` uniform
  of (id, b) clears the subsample threshold, so membership is
  deterministic, engine-independent (DuckDB replays the identical md5
  chain), and requires no RNG state, no shuffle, and no data duplication
  — the classic "m out of n without replacement" bootstrap, whose
  replicate spread estimates the sampling variability of the full-sample
  statistic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skope_api_spark.operators.dedup import md5_long

_HASH_MOD = 1_000_000


def grouped_ols(
    df: DataFrame,
    *,
    y: str,
    x: str,
    by: list[str] | tuple[str, ...],
) -> DataFrame:
    """Per-group simple linear regression y = slope·x + intercept.

    Returns group cols + (n, slope, intercept, r2); slope/intercept/r2
    are NULL for degenerate groups (var(x) == 0 or n == 0; r2 also NULL
    when var(y) == 0). Population-moment (regr_*-compatible) formulas.
    """
    if not by:
        raise ValueError("by must name at least one group column")
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    both = xc.isNotNull() & yc.isNotNull()
    agg = df.groupBy(*by).agg(
        F.count(F.when(both, 1)).alias("n"),
        F.sum(F.when(both, xc)).alias("__sx"),
        F.sum(F.when(both, yc)).alias("__sy"),
        F.sum(F.when(both, xc * yc)).alias("__sxy"),
        F.sum(F.when(both, xc * xc)).alias("__sxx"),
        F.sum(F.when(both, yc * yc)).alias("__syy"),
    )
    n = F.col("n").cast("double")
    ssx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    ssy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    sxy = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = F.when(ssx != 0, sxy / ssx)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    r2 = F.when((ssx != 0) & (ssy != 0), (sxy * sxy) / (ssx * ssy))
    return agg.select(
        *by,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def bootstrap_replicate_means(
    df: DataFrame,
    *,
    value_col: str,
    id_col: str,
    replicates: int = 32,
    frac: float = 0.5,
    value_decimals: int | None = None,
) -> DataFrame:
    """B hash-deterministic subsample replicates of mean(value) in ONE
    scan: (replicate, n_rows, mean) — replicate b keeps a row iff
    ``md5_long(id || ':' || b) % 1e6 < frac·1e6`` (the engine's shared
    sampling hash; the DuckDB oracle replays it verbatim).

    ``value_decimals``: for fixed-point money columns, pass the scale
    (e.g. 2) and each replicate mean is computed as an EXACT
    decimal(18, scale) sum followed by one double division — bit-identical
    across engines per the registry money-sum rule, where a plain double
    avg over ~10⁴ big values carries ~1e-5 accumulation-order noise.
    """
    if not 1 <= replicates <= 1024:
        raise ValueError("replicates must be in [1, 1024]")
    if not 0.0 < frac < 1.0:
        raise ValueError("frac must be in (0, 1)")
    threshold = int(frac * _HASH_MOD)
    v = F.col(value_col).cast("double")
    aggs = []
    for b in range(replicates):
        member = (
            md5_long(
                F.concat(F.col(id_col).cast("string"), F.lit(f":{b}"))
            )
            % _HASH_MOD
            < threshold
        )
        aggs.append(F.count(F.when(member, 1)).alias(f"__n_{b}"))
        if value_decimals is not None:
            dec = F.col(value_col).cast(f"decimal(18,{value_decimals})")
            aggs.append(
                (
                    F.sum(F.when(member, dec)).cast("double")
                    / F.count(F.when(member, 1))
                ).alias(f"__m_{b}")
            )
        else:
            aggs.append(F.avg(F.when(member, v)).alias(f"__m_{b}"))
    wide = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).alias("replicate"),
                F.col(f"__n_{b}").alias("n_rows"),
                F.col(f"__m_{b}").alias("mean"),
            )
            for b in range(replicates)
        ]
    )
    return wide.select(F.explode(pairs).alias("r")).select(
        "r.replicate", "r.n_rows", "r.mean"
    )


def _range_prefix_sum(
    hist: DataFrame,
    order_col: str,
    count_col: str | Sequence[str],
    partitions: int | None = None,
    by: Sequence[str] = (),
    hist_materialized: bool = False,
) -> DataFrame:
    """Distributed (optionally per-group) prefix sum over a histogram
    table: appends ``__cum`` = cumulative sum of ``count_col`` for rows
    with ``order_col`` <= current (inclusive) within each ``by`` group,
    without a single-partition global window — range-partition by
    (*by, order_col), cumulative-sum within each sorted partition, add
    per-(partition, group) offsets. A single giant group still splits
    across range partitions, so no task ever owns a whole group.
    (*by, order_col) combinations must be distinct (a groupBy histogram
    guarantees this).

    ``count_col`` may be a sequence: ONE range shuffle / checkpoint /
    window pass then carries every count (the sums share the same window
    frame), and the output gains ``__cum_<name>`` (leading underscores
    stripped) per column instead of ``__cum``.

    ``hist_materialized=True`` REQUIRES ``hist`` to already be physically
    materialized (a checkpoint, or a cheap projection of one): the
    partition-count derivation below calls ``hist.rdd.getNumPartitions()``,
    which on an unexecuted AQE plan would materialize query stages (run
    the shuffle jobs) just to size the partition count — and the range
    shuffle would then re-run them."""
    from pyspark.sql import Window as W

    single = isinstance(count_col, str)
    cols = [count_col] if single else list(count_col)
    out_names = ["__cum"] if single else [
        "__cum_" + c.lstrip("_") for c in cols
    ]
    spark = hist.sparkSession
    by = list(by)
    # materialize the histogram BEFORE the range shuffle (r16):
    # repartitionByRange evaluates its child twice — once in the range-
    # bound SAMPLING job, once in the shuffle map — so an un-pinned hist
    # re-ran the whole corpus scan + aggregation subplan per evaluation
    # (hist_equi_depth_price measured two extra 53 MB lineitem passes).
    # The histogram is distinct-values-sized, orders of magnitude
    # smaller than the corpus at any scale. ``hist_materialized`` lets a
    # caller that already checkpointed the histogram (equi_depth's
    # shared-binning path) skip the second materialization.
    if not hist_materialized:
        hist = hist.localCheckpoint(eager=True)
    # Default the range-partition count to the MATERIALIZED histogram's
    # own partition count (r16, guide §2.2 "fewer, larger partitions"):
    # the histogram arrives AQE-coalesced to the advisory partition size,
    # so its partition count already reflects its bytes at any scale —
    # a fixture-sized histogram range-shuffles into 1-2 partitions
    # instead of a flat shuffle.partitions fan-out of near-empty files
    # (32 map tasks x 32 reducers of ~100-byte shuffle files serialized
    # on the single-JVM shuffle-commit lock — the "no-CPU 32-task
    # stages" diagnosed this round), while a 100 TB histogram keeps its
    # thousands of partitions. Prefix sums are partitioning-independent
    # (__pid offsets re-derive per layout), so output values are
    # unchanged by construction.
    nparts = partitions or min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        max(1, hist.rdd.getNumPartitions()),
    )
    tagged = hist.repartitionByRange(nparts, *by, order_col).withColumn(
        "__pid", F.spark_partition_id()
    )
    # CHECKPOINT before fan-out: `tagged` feeds BOTH the offset aggregate
    # and the windowed side. Without materialization each branch
    # re-executes repartitionByRange, whose range bounds come from
    # SAMPLING the (order-nondeterministic) upstream aggregate — the two
    # evaluations can land rows in different partitions, misaligning
    # __pid offsets and silently corrupting the prefix sums (caught at
    # sf1: grouped AUC varied run to run). One materialized partitioning
    # makes both consumers read identical pids.
    tagged = tagged.localCheckpoint(eager=True)
    # per-(partition, group) totals: nparts x |groups-per-partition| rows
    # — skinny; the offset window runs per group over at most nparts rows
    woff = (
        W.partitionBy(*by)
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = tagged.groupBy("__pid", *by).agg(
        *[F.sum(c).alias(f"__pc{i}") for i, c in enumerate(cols)]
    )
    for i in range(len(cols)):
        offs = offs.withColumn(
            f"__off{i}",
            F.coalesce(F.sum(f"__pc{i}").over(woff), F.lit(0)),
        )
    wv = (
        W.partitionBy("__pid", *by)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    offs_sel = offs.select(
        "__pid", *by, *[f"__off{i}" for i in range(len(cols))]
    )
    # grouped offsets can be wide (parts x groups): let AQE pick the join
    # strategy; the ungrouped table is nparts rows and always broadcasts
    if not by:
        offs_sel = F.broadcast(offs_sel)
    out = tagged
    for i, c in enumerate(cols):
        out = out.withColumn(f"__chi{i}", F.sum(c).over(wv))
    out = out.join(offs_sel, ["__pid", *by])
    for i, name in enumerate(out_names):
        out = out.withColumn(name, F.col(f"__off{i}") + F.col(f"__chi{i}"))
    return out.drop(
        "__pid",
        *[f"__off{i}" for i in range(len(cols))],
        *[f"__chi{i}" for i in range(len(cols))],
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Exact linear-interpolation quantiles (percentile_cont semantics),
    computed DISTRIBUTED — no single-reducer value buffer.

    Spark's exact ``percentile`` aggregate ships every value to one final
    reducer (the sf1 step-up measured the 10-decile version of this at
    ~150 s on 6M rows — superlinear and memory-unbounded). This plan is
    the classic distributed order-statistics shape instead:

    1. value histogram: groupBy(v) — corpus collapses to distinct values
       with map-side combine;
    2. range-partition the histogram by v, cumulative-sum within each
       (sorted) partition, add broadcast per-partition offsets — a
       distributed prefix sum giving each value its global rank interval
       [lo, hi);
    3. every requested quantile h = q·(n−1) finds its bracketing values
       with two broadcast interval joins (|probs| rows against the skinny
       histogram) and interpolates.

    Returns (prob double, value double), one row per requested prob.
    NULLs are excluded (percentile semantics); an empty (or all-NULL)
    input yields an EMPTY result, not NULL rows — guard upstream if a
    row-per-prob contract is required.
    """
    probs = [float(p) for p in probs]
    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError("probs must lie in [0, 1]")
    spark = df.sparkSession
    v = F.col(col).cast("double")
    vals = df.where(v.isNotNull()).select(v.alias("v"))
    counts = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # no checkpoint needed here anymore: _range_prefix_sum materializes
    # the range-partitioned histogram, and every downstream branch (rank
    # intervals, total, both bracket joins) reads that checkpoint — the
    # corpus is still scanned exactly once
    ranked = _range_prefix_sum(counts, "v", "c", partitions)
    cum = ranked.select(
        "v",
        (F.col("__cum") - F.col("c")).alias("lo"),
        F.col("__cum").alias("hi"),
    )
    total = ranked.agg(F.sum("c").alias("n"))
    targets = (
        spark.createDataFrame([(p,) for p in probs], "prob double")
        .crossJoin(F.broadcast(total))
        .withColumn("h", F.col("prob") * (F.col("n") - 1).cast("double"))
        .withColumn("fl", F.floor("h").cast("long"))
        .withColumn("cl", F.ceil("h").cast("long"))
    )
    lower = cum.join(
        F.broadcast(targets),
        (F.col("lo") <= F.col("fl")) & (F.col("fl") < F.col("hi")),
    ).select("prob", "h", "fl", F.col("v").alias("__vlo"))
    upper = cum.join(
        F.broadcast(targets.select("prob", "cl")),
        (F.col("lo") <= F.col("cl")) & (F.col("cl") < F.col("hi")),
    ).select("prob", F.col("v").alias("__vhi"))
    return lower.join(upper, "prob").select(
        "prob",
        (
            F.col("__vlo")
            + (F.col("h") - F.col("fl").cast("double"))
            * (F.col("__vhi") - F.col("__vlo"))
        ).alias("value"),
    )


def exact_quantile_brackets(
    df: DataFrame,
    col: str,
    numerators: Sequence[int],
    denom: int,
    *,
    partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Integer-exact quantile BRACKETS over an integral column — the
    engine-build-proof companion to ``exact_quantiles`` for threshold /
    bucket-assignment contracts (VERDICT r8 #1: the rfm red).

    ``exact_quantiles`` interpolates in doubles, so a comparison
    ``x > ROUND(quantile, k)`` can flip on a last-ulp difference between
    engine builds when x is exactly representable (money ticks, counts).
    This variant never leaves integer arithmetic: for each requested
    prob ``num/denom`` it returns the BRACKETING VALUES of the
    percentile_cont rank position h = (n−1)·num/denom —
    ``vlo`` = value at floor(h), ``vhi`` = value at ceil(h) — plus
    ``rem`` = (n−1)·num mod denom, so the caller can evaluate
    ``x > quantile`` exactly by cross-multiplication:

        denom·x  >  denom·vlo + rem·(vhi − vlo)

    (both sides BIGINT; equivalent to comparing against the interpolated
    quantile with zero floating point anywhere). Same distributed shape
    as ``exact_quantiles``: value histogram → range-partitioned prefix
    sum → two broadcast interval joins; no single-reducer buffer, corpus
    scanned once. NULLs excluded; empty input yields an empty result.

    Returns (num long, vlo long, vhi long, rem long, n long), one row
    per requested numerator.
    """
    nums = [int(k) for k in numerators]
    denom = int(denom)
    if not nums:
        raise ValueError("numerators must be non-empty")
    if denom < 1:
        raise ValueError("denom must be >= 1")
    if any(not 0 <= k <= denom for k in nums):
        raise ValueError("numerators must lie in [0, denom]")
    spark = df.sparkSession
    v = F.col(col).cast("long")
    if weight_col is not None:
        # ``df`` is already a (value, weight) histogram with DISTINCT
        # values (a groupBy output): skip the internal aggregation so a
        # caller that needs the histogram for its own binning pass
        # (equi_depth_histogram) shares ONE corpus aggregation instead
        # of scanning the corpus once per consumer (r16).
        counts = df.where(v.isNotNull()).select(
            v.alias("v"), F.col(weight_col).cast("long").alias("c")
        )
    else:
        vals = df.where(v.isNotNull()).select(v.alias("v"))
        counts = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    ranked = _range_prefix_sum(
        counts, "v", "c", partitions,
        hist_materialized=weight_col is not None,
    )
    cum = ranked.select(
        "v",
        (F.col("__cum") - F.col("c")).alias("lo"),
        F.col("__cum").alias("hi"),
    )
    total = ranked.agg(F.sum("c").alias("n"))
    targets = (
        spark.createDataFrame([(k,) for k in nums], "num long")
        .crossJoin(F.broadcast(total))
        .withColumn("hn", (F.col("n") - 1) * F.col("num"))
        .withColumn("rem", F.col("hn") % F.lit(denom))
        # `div` keeps the division in LONG (never through a double)
        .withColumn("fl", F.expr(f"hn div {denom}"))
        .withColumn(
            "cl",
            F.col("fl") + F.when(F.col("rem") > 0, 1).otherwise(0),
        )
    )
    lower = cum.join(
        F.broadcast(targets),
        (F.col("lo") <= F.col("fl")) & (F.col("fl") < F.col("hi")),
    ).select("num", "rem", "n", "cl", F.col("v").alias("vlo"))
    upper = cum.join(
        F.broadcast(targets.select("num", "cl")),
        (F.col("lo") <= F.col("cl")) & (F.col("cl") < F.col("hi")),
    ).select("num", F.col("v").alias("vhi"))
    return lower.join(upper, "num").select("num", "vlo", "vhi", "rem", "n")


def robust_summary(
    df: DataFrame,
    col: str,
    *,
    trim: float = 0.05,
    partitions: int | None = None,
    boundary_decimals: int | None = None,
    value_decimals: int | None = None,
) -> DataFrame:
    """Robust location/scale summary: median, MAD, IQR, trimmed mean.

    Composition of the distributed ``exact_quantiles`` (no single-reducer
    value buffer anywhere):

    1. one quantile pass -> median, q1, q3, and the [trim, 1-trim]
       bounds, broadcast as a 1-row scalar;
    2. one conditional-aggregate scan -> trimmed mean (rows inside the
       trim bounds) and n;
    3. one more quantile pass over |x - median| -> MAD (median absolute
       deviation, the robust sigma: sigma ~ 1.4826 * MAD for normal data).

    Returns a single row (n, median, mad, iqr, trimmed_mean).

    ``boundary_decimals``: round the trim bounds before filtering —
    interpolated quantile doubles can differ across engines in the last
    ulp, and an unrounded bound lets a single boundary row flip trimmed
    membership; rounded bounds make the trimmed SET identical (same
    rationale as equi_depth_histogram's boundary rounding).
    ``value_decimals``: as in bootstrap_replicate_means — exact
    decimal-sum trimmed mean for fixed-point columns.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    v = F.col(col).cast("double")
    probs = [0.25, 0.5, 0.75, trim, 1.0 - trim]
    qs = exact_quantiles(df, col, probs, partitions=partitions)
    # explicit pivot values: with an EMPTY input exact_quantiles returns
    # zero rows and a value-less pivot would create zero columns, making
    # the `0.5` selection an AnalysisException instead of a NULL row
    bounds = qs.groupBy().pivot(
        "prob", sorted({float(p) for p in probs})
    ).agg(F.first("value"))
    lo_c, hi_c = str(float(trim)), str(float(1.0 - trim))
    lo_raw, hi_raw = F.col(f"`{lo_c}`"), F.col(f"`{hi_c}`")
    if boundary_decimals is not None:
        lo_raw = F.round(lo_raw, boundary_decimals)
        hi_raw = F.round(hi_raw, boundary_decimals)
    scalars = bounds.select(
        F.col("`0.5`").alias("__med"),
        (F.col("`0.75`") - F.col("`0.25`")).alias("__iqr"),
        lo_raw.alias("__lo"),
        hi_raw.alias("__hi"),
    )
    with_scalars = df.where(v.isNotNull()).crossJoin(F.broadcast(scalars))
    inside = (v >= F.col("__lo")) & (v <= F.col("__hi"))
    if value_decimals is not None:
        dec = F.col(col).cast(f"decimal(18,{value_decimals})")
        # try_divide: zero in-bounds rows (empty input) must yield a
        # NULL trimmed mean, not an ANSI DIVIDE_BY_ZERO job failure
        tmean = F.try_divide(
            F.sum(F.when(inside, dec)).cast("double"),
            F.count(F.when(inside, 1)),
        )
    else:
        tmean = F.avg(F.when(inside, v))
    trimmed = with_scalars.agg(
        F.count(F.lit(1)).alias("n"),
        tmean.alias("trimmed_mean"),
        F.first("__med").alias("median"),
        F.first("__iqr").alias("iqr"),
    )
    dev = df.where(v.isNotNull()).crossJoin(F.broadcast(scalars)).select(
        F.abs(v - F.col("__med")).alias("__dev")
    )
    mad = exact_quantiles(dev, "__dev", [0.5], partitions=partitions).select(
        F.col("value").alias("mad")
    )
    return trimmed.crossJoin(F.broadcast(mad)).select(
        "n", "median", "mad", "iqr", "trimmed_mean"
    )


def binary_auc(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC of a score against a boolean label, fully
    distributed — the Mann-Whitney pair-counting form over the SCORE
    HISTOGRAM, never a global sort of rows:

    1. group by distinct score -> (n_pos, n_neg) per score (map-side
       combine collapses the corpus);
    2. the shared range-partitioned distributed prefix sum over the
       distinct-score histogram -> negatives strictly below each score;
    3. AUC = [Σ_s n_pos(s)·cum_neg(<s) + ½·n_pos(s)·n_neg(s)] /
       (N_pos·N_neg) — ties contribute half, the standard definition.

    All counts are exact integers; the single final division makes the
    result bit-identical across engines. Returns one row
    (n_pos, n_neg, auc); auc is NULL when either class is empty.
    """
    lab = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    hist = (
        df.where(s.isNotNull() & lab.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.count(F.when(lab, 1)).alias("__np"),
            F.count(F.when(~lab, 1)).alias("__nn"),
        )
    )
    contrib = _range_prefix_sum(hist, "__s", "__nn").select(
        "__np",
        "__nn",
        (F.col("__cum") - F.col("__nn")).alias("__below"),
    )
    return contrib.agg(
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
        F.when(
            (F.sum("__np") > 0) & (F.sum("__nn") > 0),
            (
                F.sum(F.col("__np") * F.col("__below")).cast("double")
                + F.sum(F.col("__np") * F.col("__nn")).cast("double") / 2.0
            )
            / (F.sum("__np") * F.sum("__nn")).cast("double"),
        ).alias("auc"),
    )


def grouped_quantiles(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    *,
    by: Sequence[str],
    partitions: int | None = None,
) -> DataFrame:
    """Per-group exact quantiles (percentile_cont semantics) with the
    same distributed order-statistics plan as ``exact_quantiles`` — the
    per-group twin of "p95 latency per service". Unlike a plain
    ``groupBy().agg(percentile(...))``, which buffers each group's every
    value in one reducer, the (group, value) histogram range-partitions
    across the cluster, so one giant group cannot pin a task.

    Returns (*by, prob, value). NULL scores are excluded; groups are
    whatever appears in the data.
    """
    probs = [float(p) for p in probs]
    by = list(by)
    if not by:
        raise ValueError("by must name at least one group column")
    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError("probs must lie in [0, 1]")
    spark = df.sparkSession
    v = F.col(col).cast("double")
    vals = df.where(v.isNotNull()).select(*by, v.alias("v"))
    counts = vals.groupBy(*by, "v").agg(F.count(F.lit(1)).alias("c"))
    counts = counts.localCheckpoint(eager=True)  # one corpus scan total
    ranked = _range_prefix_sum(counts, "v", "c", partitions, by=by)
    cum = ranked.select(
        *by,
        "v",
        (F.col("__cum") - F.col("c")).alias("lo"),
        F.col("__cum").alias("hi"),
    )
    totals = counts.groupBy(*by).agg(F.sum("c").alias("n"))
    probs_df = spark.createDataFrame([(p,) for p in probs], "prob double")
    targets = (
        totals.crossJoin(F.broadcast(probs_df))
        .withColumn("h", F.col("prob") * (F.col("n") - 1).cast("double"))
        .withColumn("fl", F.floor("h").cast("long"))
        .withColumn("cl", F.ceil("h").cast("long"))
    )
    lower = (
        cum.alias("c")
        .join(targets.alias("t"), on=by)
        .where((F.col("c.lo") <= F.col("t.fl")) & (F.col("t.fl") < F.col("c.hi")))
        .select(*by, "t.prob", "t.h", "t.fl", F.col("c.v").alias("__vlo"))
    )
    upper = (
        cum.alias("c2")
        .join(targets.select(*by, "prob", "cl").alias("t2"), on=by)
        .where(
            (F.col("c2.lo") <= F.col("t2.cl")) & (F.col("t2.cl") < F.col("c2.hi"))
        )
        .select(*by, "t2.prob", F.col("c2.v").alias("__vhi"))
    )
    return lower.join(upper, [*by, "prob"]).select(
        *by,
        "prob",
        (
            F.col("__vlo")
            + (F.col("h") - F.col("fl").cast("double"))
            * (F.col("__vhi") - F.col("__vlo"))
        ).alias("value"),
    )


def gini_coefficient(
    df: DataFrame,
    col: str,
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative quantity — the standard
    inequality measure (revenue concentration, token-share skew).

    Rank-sum formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with x ascending,
    evaluated WITHOUT sorting rows: on the distinct-value histogram a
    tied run of count c occupying positions (lo+1 .. lo+c) contributes
    v·(c·lo + c(c+1)/2) to Σ i·xᵢ, and ``lo`` comes from the shared
    range-partitioned prefix sum. Everything stays exact
    integer-times-value arithmetic until one final division.

    Returns one row (n, total, gini); gini is NULL for empty input or
    zero total.
    """
    v = F.col(col).cast("double")
    hist = (
        df.where(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ranked = _range_prefix_sum(hist, "__v", "__c", partitions)
    lo = F.col("__cum") - F.col("__c")
    rank_term = F.col("__v") * (
        F.col("__c").cast("double") * lo.cast("double")
        + (F.col("__c") * (F.col("__c") + 1)).cast("double") / 2.0
    )
    agg = ranked.agg(
        F.sum("__c").alias("n"),
        F.sum(F.col("__v") * F.col("__c")).alias("total"),
        F.sum(rank_term).alias("__rs"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n",
        "total",
        F.when(
            (F.col("n") > 0) & (F.col("total") != 0),
            2.0 * F.col("__rs") / (n * F.col("total"))
            - (n + 1.0) / n,
        ).alias("gini"),
    )


def ks_two_sample(
    df: DataFrame,
    *,
    value_col: str,
    group_col,
    partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic
    D = sup |CDF_a(x) − CDF_b(x)|, distributed.

    ``group_col`` is a boolean column/expression splitting rows into
    sample A (true) and B (false). Both empirical CDFs are step
    functions that only change at data values, so D is the max over the
    distinct-value histogram of |cum_a/n_a − cum_b/n_b| — one prefix
    pass carrying both counts, one max. The comparison is made in exact
    cross-multiplied integers (|cum_a·n_b − cum_b·n_a|) so the argmax is
    tie-stable; only the reported D divides.

    Returns (n_a, n_b, ks_d); NULL D when either sample is empty.
    """
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    v = F.col(value_col).cast("double")
    hist = (
        df.where(v.isNotNull() & g.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.count(F.when(g, 1)).alias("__ca"),
            F.count(F.when(~g, 1)).alias("__cb"),
        )
    )
    hist = hist.localCheckpoint(eager=True)  # totals reuse the one scan
    # ONE prefix pass carries both counts (r16: was two passes + a rejoin
    # on __v — one range shuffle, one checkpoint and one window instead
    # of two of each plus a join)
    ranked = _range_prefix_sum(hist, "__v", ["__ca", "__cb"], partitions)
    totals = hist.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    joined = ranked.crossJoin(F.broadcast(totals)).select(
        "__na",
        "__nb",
        F.abs(
            F.col("__cum_ca") * F.col("__nb")
            - F.col("__cum_cb") * F.col("__na")
        ).alias("__num"),
    )
    return joined.agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.when(
            (F.max("__na") > 0) & (F.max("__nb") > 0),
            F.max("__num").cast("double")
            / (F.max("__na") * F.max("__nb")).cast("double"),
        ).alias("ks_d"),
    )


def contingency_stats(
    df: DataFrame,
    *,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Dependence measures between two categorical columns from ONE
    contingency aggregation: mutual information (nats), chi-square
    statistic, and Cramér's V — the feature-relevance screens run before
    keeping a categorical signal in a training set.

    The corpus collapses to the (a, b) contingency table with map-side
    combine; marginals and totals derive from the checkpointed table
    (cells × 2 skinny aggregations, no second corpus scan); each measure
    is a sum over cells in the projection. Returns one row
    (n, n_cells, mi_nats, chi2, cramers_v).
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n_ab"))
    )
    cells = cells.localCheckpoint(eager=True)
    ma = cells.groupBy("__a").agg(F.sum("__n_ab").alias("__n_a"))
    mb = cells.groupBy("__b").agg(F.sum("__n_ab").alias("__n_b"))
    tot = cells.agg(
        F.sum("__n_ab").alias("__n"),
        F.countDistinct("__a").alias("__ra"),
        F.countDistinct("__b").alias("__rb"),
    )
    joined = (
        cells.join(F.broadcast(ma), "__a")
        .join(F.broadcast(mb), "__b")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("__n").cast("double")
    p_ab = F.col("__n_ab") / n
    mi_term = p_ab * F.log(
        (F.col("__n_ab") * F.col("__n")).cast("double")
        / (F.col("__n_a") * F.col("__n_b")).cast("double")
    )
    # chi2 = n * (sum over OBSERVED cells of n_ab^2/(n_a*n_b) - 1): the
    # zero cells a groupBy can never emit contribute exactly their
    # expected count, and this identity absorbs them — summing
    # (obs-exp)^2/exp over observed cells alone would undercount sparse
    # tables
    chi_term = (F.col("__n_ab") * F.col("__n_ab")).cast("double") / (
        F.col("__n_a") * F.col("__n_b")
    ).cast("double")
    out = joined.agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(mi_term).alias("mi_nats"),
        (F.max("__n").cast("double") * (F.sum(chi_term) - 1.0)).alias(
            "chi2"
        ),
        F.max("__ra").alias("__ra"),
        F.max("__rb").alias("__rb"),
    )
    denom = (
        F.col("n")
        * F.greatest(
            F.least(F.col("__ra"), F.col("__rb")) - 1, F.lit(1)
        )
    ).cast("double")
    return out.select(
        "n",
        "n_cells",
        "mi_nats",
        "chi2",
        F.sqrt(F.col("chi2") / denom).alias("cramers_v"),
    )


def welch_ttest(
    df: DataFrame,
    *,
    value_col: str,
    group_col,
) -> DataFrame:
    """Welch's unequal-variance t-test between two samples — ONE
    aggregation of six moments (n, Σx, Σx² per side), t statistic and
    Welch-Satterthwaite degrees of freedom in the projection. The
    always-cheap companion to ``ks_two_sample`` (which needs the value
    histogram; this needs only moments).

    Returns one row (n_a, n_b, mean_a, mean_b, t_stat, dof); t/dof NULL
    when either sample has < 2 values or both variances are 0.
    """
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & g.isNotNull()
    agg = df.agg(
        F.count(F.when(ok & g, 1)).alias("n_a"),
        F.count(F.when(ok & ~g, 1)).alias("n_b"),
        F.sum(F.when(ok & g, v)).alias("__sa"),
        F.sum(F.when(ok & ~g, v)).alias("__sb"),
        F.sum(F.when(ok & g, v * v)).alias("__qa"),
        F.sum(F.when(ok & ~g, v * v)).alias("__qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mean_a, mean_b = F.col("__sa") / na, F.col("__sb") / nb
    # unbiased sample variances (ddof=1)
    var_a = (F.col("__qa") - na * mean_a * mean_a) / (na - 1)
    var_b = (F.col("__qb") - nb * mean_b * mean_b) / (nb - 1)
    se2 = var_a / na + var_b / nb
    t = (mean_a - mean_b) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (var_a / na) ** 2 / (na - 1) + (var_b / nb) ** 2 / (nb - 1)
    )
    valid = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return agg.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.when(valid & (se2 > 0), t).alias("t_stat"),
        F.when(valid & (se2 > 0), dof).alias("dof"),
    )


def rank_normalize(
    df: DataFrame,
    col: str,
    *,
    out_col: str = "rank_norm",
    partitions: int | None = None,
) -> DataFrame:
    """Quantile (rank) normalization: map a numeric column to (0, 1) by
    mid-rank — the monotone, outlier-immune feature transform
    (r_mid = (rank_lo + rank_hi) / 2 / n over the value histogram, ties
    share one mid-rank).

    No row sort: histogram + the shared distributed prefix sum give each
    DISTINCT value its rank interval; values map through a broadcast-able
    skinny join back onto the corpus (the histogram is |distinct| rows —
    let AQE choose broadcast vs shuffle). NULLs stay NULL.
    """
    v = F.col(col).cast("double")
    hist = (
        df.where(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    hist = hist.localCheckpoint(eager=True)
    ranked = _range_prefix_sum(hist, "__v", "__c", partitions)
    total = hist.agg(F.sum("__c").alias("__n"))
    mapping = ranked.crossJoin(F.broadcast(total)).select(
        "__v",
        (
            (F.col("__cum").cast("double") - F.col("__c") / 2.0)
            / F.col("__n")
        ).alias(out_col),
    )
    return df.join(mapping, v.eqNullSafe(F.col("__v")), "left").drop("__v")


def _series_pairs(series: DataFrame, x: str, y: str):
    """All ordered pairs (i < j by ``x``) of a report-sized series.

    Intentional bounded O(n²): the input is a POST-AGGREGATION series
    (monthly revenue, daily actives — 10²-10⁴ rows after the corpus
    collapsed), so the inequality self-join broadcasts one copy of the
    series and plans as a bounded BroadcastNestedLoopJoin over the
    report, never over the data. Callers that need trend tests over
    un-aggregated corpora should aggregate first — that is the
    statistic's own definition, not a workaround. Returns
    (pairs, checkpointed_series) so callers' side aggregations reuse the
    materialized series instead of replaying its upstream per branch.
    """
    series = series.localCheckpoint(eager=True)  # report-sized by contract
    a = series.select(F.col(x).alias("__xi"), F.col(y).alias("__yi"))
    b = series.select(F.col(x).alias("__xj"), F.col(y).alias("__yj"))
    return F.broadcast(a).join(b, F.col("__xj") > F.col("__xi")), series


def mann_kendall(series: DataFrame, *, x: str, y: str) -> DataFrame:
    """Mann-Kendall trend test: S = Σ_{i<j} sgn(y_j − y_i) over the
    time-ordered series, tie-corrected Kendall tau-b, and the normal
    approximation z with continuity correction (Kendall 1975; public
    formulas). S and the tie terms are exact integers — the only floats
    are the final tau/z divisions, so round once in the caller.

    One pair join over the report (``_series_pairs``), one tiny tie
    aggregation over distinct y values, and three 1-row broadcasts —
    the corpus-sized work happened upstream in the aggregation that
    produced the series.
    """
    pairs, series = _series_pairs(series, x, y)
    s = pairs.agg(
        # 0- or 1-row series has an empty pair join → SUM is NULL; the
        # statistic's definition (and the oracle's COALESCE) says S = 0
        F.coalesce(
            F.sum(F.signum(F.col("__yj") - F.col("__yi"))), F.lit(0.0)
        )
        .cast("long")
        .alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    nrow = series.agg(F.count(F.lit(1)).alias("n"))
    t = F.col("__t")
    ties = (
        series.groupBy(F.col(y).alias("__yv"))
        .agg(F.count(F.lit(1)).alias("__t"))
        .where(t > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) / 2), F.lit(0.0)).alias("__n1"),
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0.0))
            .cast("double")
            .alias("__tievar"),
        )
    )
    joined = s.crossJoin(F.broadcast(nrow)).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    n0 = n * (n - 1) / 2.0
    var_s = (n * (n - 1) * (2.0 * n + 5.0) - F.col("__tievar")) / 18.0
    # all-tied (or n=1) series: the tau denominator is 0 — tau undefined,
    # NULL under try_divide rather than an ANSI divide-by-zero
    tau_b = F.try_divide(
        F.col("s_stat"), F.sqrt((n0 - F.col("__n1")) * n0)
    )
    z = F.when(F.col("s_stat") == 0, F.lit(0.0)).otherwise(
        (F.col("s_stat") - F.signum(F.col("s_stat"))) / F.sqrt(var_s)
    )
    return joined.select(
        "n", "s_stat", "n_pairs", tau_b.alias("tau_b"), z.alias("z")
    )


def theil_sen(series: DataFrame, *, x: str, y: str) -> DataFrame:
    """Theil-Sen robust line fit: slope = median of all pairwise slopes
    (y_j−y_i)/(x_j−x_i), intercept = median of the residuals y − m·x
    (Sen 1968). Breakdown point ~29% — the outlier-immune alternative to
    OLS for report-sized trend lines. Same bounded pair join as
    ``mann_kendall``; both medians are Spark's exact interpolating
    ``median`` (DuckDB's MEDIAN matches), and the intercept reuses the
    UNROUNDED slope so both engines see identical residuals.
    """
    pairs, series = _series_pairs(series, x, y)
    slope = pairs.agg(
        F.median(
            (F.col("__yj") - F.col("__yi"))
            / (F.col("__xj") - F.col("__xi")).cast("double")
        ).alias("slope")
    )
    resid = series.crossJoin(F.broadcast(slope))
    return resid.agg(
        F.min("slope").alias("slope"),
        F.median(F.col(y) - F.col("slope") * F.col(x)).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


def calibration_table(
    df: DataFrame,
    *,
    score_col: str,
    label,
    buckets: int = 10,
    boundary_decimals: int = 2,
) -> DataFrame:
    """Decile calibration / lift-and-gain table for a scoring model:
    bin rows by exact score quantiles (highest scores = bucket
    ``buckets``), then per bin the positive rate plus the cumulative
    gain/lift reading FROM THE TOP — the standard "target the top k%"
    campaign report and the binned half of a reliability diagram.

    Plan: boundaries from the DISTRIBUTED exact-quantile operator
    (rounded so the interpolated doubles are cross-engine stable),
    broadcast as one scalar row; binning is an in-scan aggregate fold
    (same shape as quality.equi_depth_histogram); per-bucket stats are
    ONE aggregation; cumulative sums are a window over the
    ``buckets``-row report. Rates/lift are single divisions of exact
    integers — bit-identical cross-engine.
    """
    from pyspark.sql import Window as W

    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    qs = [i / buckets for i in range(1, buckets)]
    quants = exact_quantiles(df, score_col, qs)
    bounds = quants.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("prob"), F.col("value")))
            ),
            lambda s: F.round(s["value"], boundary_decimals),
        ).alias("__bounds")
    )
    binned = df.where(F.col(score_col).isNotNull()).crossJoin(
        F.broadcast(bounds)
    )
    bucket = F.aggregate(
        F.col("__bounds"),
        F.lit(1),
        lambda acc, b: acc + F.when(F.col(score_col) > b, 1).otherwise(0),
    )
    per = binned.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(label, 1)).alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").alias("__tn"), F.sum("n_pos").alias("__tp")
    )
    w = W.orderBy(F.desc("bucket")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "n_pos",
        F.try_divide(F.col("n_pos").cast("double"), F.col("n")).alias(
            "pos_rate"
        ),
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n_pos").over(w).alias("cum_pos"),
    )
    gain = F.try_divide(F.col("cum_pos").cast("double"), F.col("__tp"))
    base = F.try_divide(F.col("__tp").cast("double"), F.col("__tn"))
    lift = F.try_divide(
        F.try_divide(F.col("cum_pos").cast("double"), F.col("cum_n")), base
    )
    return (
        out.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n",
            "n_pos",
            "pos_rate",
            "cum_n",
            "cum_pos",
            gain.alias("cum_gain"),
            lift.alias("cum_lift"),
        )
        .orderBy(F.desc("bucket"))
    )


def winsorize_ticks(
    df: DataFrame,
    col: str,
    *,
    lower: tuple[int, int] = (1, 100),
    upper: tuple[int, int] = (99, 100),
    tick_scale: int = 100,
    out_col: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Winsorize a column that lives on a fixed 1/``tick_scale`` decimal
    grid (money, counts) with INTEGER-EXACT interpolated bounds, so the
    clip is engine-build-proof (VERDICT r8 #1 class:
    2-dp-rounded p01/p99 doubles can tie on a half-cent, where a
    last-ulp quantile_cont difference between engine builds flips the
    rounding and with it every comparison against the bound).

    ``lower``/``upper`` are RATIONALS (num, den). Values become BIGINT
    ticks ``round(v·tick_scale)``; each bound's percentile_cont quantile
    is carried as the exact integer ``d·q = d·vlo + rem·(vhi − vlo)``
    in (d·ticks) units, where d = lcm of the two denominators
    (``exact_quantile_brackets``). The clip comparison and the clipped
    value never leave integer arithmetic; the double output column is
    ONE division of identical integers, bit-identical on any engine.

    Appends ``out_col`` (double, the winsorized value) and
    ``{out_col}_dticks`` (BIGINT, the winsorized value × tick_scale × d
    — sum these for an exact winsorized mean). NULLs pass through.
    """
    from math import lcm

    (ln, ld), (un, ud) = lower, upper
    if not (0 <= ln / ld < un / ud <= 1):
        raise ValueError("need 0 <= lower < upper <= 1")
    d = lcm(ld, ud)
    lo_num, hi_num = ln * d // ld, un * d // ud
    out_col = out_col or f"{col}_winsorized"
    t = F.round(F.col(col) * F.lit(int(tick_scale))).cast("long")
    br = exact_quantile_brackets(
        df.select(t.alias("__wt")), "__wt", [lo_num, hi_num], d,
        partitions=partitions,
    )
    qd = F.col("vlo") * d + F.col("rem") * (F.col("vhi") - F.col("vlo"))
    bounds = br.agg(
        F.min(F.when(F.col("num") == lo_num, qd)).alias("__lo_d"),
        F.min(F.when(F.col("num") == hi_num, qd)).alias("__hi_d"),
    )
    td = t * d
    clipped_d = (
        F.when(td < F.col("__lo_d"), F.col("__lo_d"))
        .when(td > F.col("__hi_d"), F.col("__hi_d"))
        .otherwise(td)
    )
    clipped_d = F.when(t.isNotNull(), clipped_d)
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(f"{out_col}_dticks", clipped_d)
        .withColumn(
            out_col,
            F.col(f"{out_col}_dticks").cast("double")
            / F.lit(float(d * tick_scale)),
        )
        .drop("__lo_d", "__hi_d")
    )


def weighted_quantiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    targets: Sequence[tuple[int, int]],
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Exact weighted quantiles (lower weighted-median convention): for
    each target rational q = k/d, the SMALLEST value whose cumulative
    weight reaches q of the total — the "median order size weighted by
    quantity" family. Weights must be non-negative integers (cast to
    long), and targets are RATIONALS, so every comparison is an integer
    cross-multiplication (cum·d ≥ k·W): no float thresholds anywhere,
    bit-identical cross-engine by construction.

    Same distributed shape as ``exact_quantiles``: weight histogram →
    range-partitioned prefix sum → a broadcast target join takes the
    per-target min qualifying value. Returns (k, d, prob, value).
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    for k, d in targets:
        if d <= 0 or not 0 <= k <= d:
            raise ValueError(f"target {k}/{d} must satisfy 0 <= k/d <= 1")
    spark = df.sparkSession
    v = F.col(col).cast("double")
    w = F.col(weight_col).cast("long")
    hist = (
        df.where(v.isNotNull() & w.isNotNull())
        .groupBy(v.alias("v"))
        .agg(F.sum(w).alias("c"))
        .localCheckpoint(eager=True)
    )
    ranked = _range_prefix_sum(hist, "v", "c", partitions)
    total = ranked.agg(F.sum("c").alias("__w"))
    tdf = (
        spark.createDataFrame(
            [(int(k), int(d)) for k, d in targets], "k long, d long"
        )
        .crossJoin(F.broadcast(total))
    )
    qualified = ranked.join(
        F.broadcast(tdf),
        F.col("__cum") * F.col("d") >= F.col("k") * F.col("__w"),
    )
    return (
        qualified.groupBy("k", "d")
        .agg(F.min("v").alias("value"))
        .select(
            "k",
            "d",
            (F.col("k").cast("double") / F.col("d")).alias("prob"),
            "value",
        )
    )


def grouped_auc(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    by: Sequence[str],
    partitions: int | None = None,
) -> DataFrame:
    """Per-slice exact ROC AUC — the sliced model evaluation every
    fairness/monitoring review asks for (does the score degrade on a
    subpopulation?). Identical math to ``binary_auc`` but over a
    (slice, score) histogram with the PER-GROUP distributed prefix sum
    (the ``by`` mode of ``_range_prefix_sum``): a giant slice
    range-splits across partitions instead of pinning one reducer.
    Returns ``by`` + (n_pos, n_neg, auc); auc NULL where a slice is
    single-class."""
    if not by:
        raise ValueError("by must name at least one slice column")
    lab = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("boolean")
    s = F.col(score_col).cast("double")
    hist = (
        df.where(s.isNotNull() & lab.isNotNull())
        .groupBy(*by, s.alias("__s"))
        .agg(
            F.count(F.when(lab, 1)).alias("__np"),
            F.count(F.when(~lab, 1)).alias("__nn"),
        )
    )
    contrib = _range_prefix_sum(
        hist, "__s", "__nn", partitions, by=by
    ).select(
        *by,
        "__np",
        "__nn",
        (F.col("__cum") - F.col("__nn")).alias("__below"),
    )
    return contrib.groupBy(*by).agg(
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
        F.when(
            (F.sum("__np") > 0) & (F.sum("__nn") > 0),
            (
                F.sum(F.col("__np") * F.col("__below")).cast("double")
                + F.sum(F.col("__np") * F.col("__nn")).cast("double") / 2.0
            )
            / (F.sum("__np") * F.sum("__nn")).cast("double"),
        ).alias("auc"),
    )
