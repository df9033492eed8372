"""Inference statistics (operators/stats.py): grouped OLS vs numpy,
bootstrap replicate determinism."""

from __future__ import annotations

import numpy as np
import pytest

from skope_api_spark.operators.stats import (
    bootstrap_replicate_means,
    grouped_ols,
)


@pytest.fixture(scope="module")
def xy(spark):
    rng = np.random.default_rng(11)
    x = rng.uniform(0, 10, 300)
    y = 3.0 * x + 2.0 + rng.normal(0, 0.5, 300)
    df = spark.createDataFrame(
        [(i, "g", float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        "id long, g string, x double, y double",
    )
    return x, y, df


def test_grouped_ols_matches_numpy(xy):
    x, y, df = xy
    row = grouped_ols(df, y="y", x="x", by=["g"]).first()
    slope, intercept = np.polyfit(x, y, 1)
    assert row["n"] == 300
    assert abs(row["slope"] - slope) < 1e-9
    assert abs(row["intercept"] - intercept) < 1e-9
    r = np.corrcoef(x, y)[0, 1]
    assert abs(row["r2"] - r * r) < 1e-9


def test_grouped_ols_degenerate_group(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 5.0), ("a", 1.0, 7.0), ("b", 2.0, 3.0)],
        "g string, x double, y double",
    )
    rows = {r["g"]: r for r in grouped_ols(df, y="y", x="x", by=["g"]).collect()}
    assert rows["a"]["slope"] is None  # var(x) == 0
    assert rows["b"]["slope"] is None  # single point


def test_grouped_ols_ignores_null_pairs(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", None, 9.0), ("a", 3.0, None)],
        "g string, x double, y double",
    )
    row = grouped_ols(df, y="y", x="x", by=["g"]).first()
    assert row["n"] == 2
    assert abs(row["slope"] - 1.0) < 1e-12


def test_grouped_ols_requires_group(xy):
    _, _, df = xy
    with pytest.raises(ValueError, match="group column"):
        grouped_ols(df, y="y", x="x", by=[])


@pytest.fixture(scope="module")
def values(spark):
    rng = np.random.default_rng(5)
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rng.normal(100, 10, 500))],
        "id long, v double",
    )


def test_bootstrap_replicates_deterministic(values):
    a = bootstrap_replicate_means(
        values, value_col="v", id_col="id", replicates=8
    ).collect()
    b = bootstrap_replicate_means(
        values, value_col="v", id_col="id", replicates=8
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bootstrap_replicates_distinct_samples(values):
    rows = bootstrap_replicate_means(
        values, value_col="v", id_col="id", replicates=8
    ).collect()
    assert len(rows) == 8
    # half-subsamples hover around n/2 and differ between replicates
    assert all(200 <= r["n_rows"] <= 300 for r in rows)
    assert len({r["mean"] for r in rows}) > 1


def test_bootstrap_validation(values):
    with pytest.raises(ValueError, match="replicates"):
        bootstrap_replicate_means(
            values, value_col="v", id_col="id", replicates=0
        )
    with pytest.raises(ValueError, match="frac"):
        bootstrap_replicate_means(
            values, value_col="v", id_col="id", frac=1.5
        )


def test_exact_quantiles_match_builtin_percentile(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from skope_api_spark.operators.stats import exact_quantiles

    rng = np.random.default_rng(9)
    vals = np.round(rng.uniform(0, 1000, 2000), 2)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    got = {
        r["prob"]: r["value"]
        for r in exact_quantiles(df, "x", probs, partitions=8).collect()
    }
    ref = df.agg(
        *[F.percentile("x", F.lit(p)).alias(str(p)) for p in probs]
    ).first()
    for p in probs:
        assert abs(got[p] - ref[str(p)]) < 1e-9, p


def test_exact_quantiles_duplicates_and_edges(spark):
    from skope_api_spark.operators.stats import exact_quantiles

    # heavy ties: rank intervals span values
    df = spark.createDataFrame(
        [(1.0,)] * 50 + [(2.0,)] * 30 + [(3.0,)] * 20, "x double"
    )
    got = {
        r["prob"]: r["value"]
        for r in exact_quantiles(df, "x", [0.0, 0.25, 0.5, 0.9, 1.0]).collect()
    }
    assert got[0.0] == 1.0 and got[1.0] == 3.0
    assert got[0.25] == 1.0  # rank 24.75 inside the 1.0 run
    assert got[0.5] == 1.5   # rank 49.5 straddles the last 1.0 / first 2.0
    assert got[0.9] == 3.0   # rank 89.1 inside the 3.0 run


def test_exact_quantiles_interpolates_between_values(spark):
    from skope_api_spark.operators.stats import exact_quantiles

    df = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    got = exact_quantiles(df, "x", [0.5]).first()
    assert abs(got["value"] - 5.0) < 1e-12


def test_exact_quantiles_ignores_nulls_and_validates(spark):
    import pytest as _pytest
    from skope_api_spark.operators.stats import exact_quantiles

    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    got = exact_quantiles(df, "x", [1.0]).first()
    assert got["value"] == 3.0
    with _pytest.raises(ValueError, match="probs"):
        exact_quantiles(df, "x", [])
    with _pytest.raises(ValueError, match="probs"):
        exact_quantiles(df, "x", [1.5])


def test_exact_quantile_brackets_match_fraction_reference(spark):
    """The integer-exact bracket operator against a pure-Python
    Fraction reference: for each num/denom the bracketing values, the
    rank remainder, AND the implied comparison x > quantile must match
    exact rational arithmetic — the engine-build-proof contract the rfm
    query relies on (VERDICT r8 #1)."""
    from fractions import Fraction

    import numpy as np
    from skope_api_spark.operators.stats import exact_quantile_brackets

    rng = np.random.default_rng(17)
    vals = sorted(int(v) for v in rng.integers(-50, 500, 237))
    # force heavy ties too
    vals += [7] * 40
    vals.sort()
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    n = len(vals)
    denom = 4
    got = {
        r["num"]: r
        for r in exact_quantile_brackets(
            df, "x", [1, 2, 3], denom, partitions=8
        ).collect()
    }
    for k in (1, 2, 3):
        h = Fraction((n - 1) * k, denom)
        fl, rem = divmod((n - 1) * k, denom)
        r = got[k]
        assert r["n"] == n
        assert r["vlo"] == vals[fl]
        assert r["vhi"] == vals[fl + (1 if rem else 0)]
        assert r["rem"] == rem
        # the comparison every threshold consumer performs
        q = Fraction(vals[fl]) + Fraction(rem, denom) * (
            vals[fl + (1 if rem else 0)] - vals[fl]
        )
        for x in {vals[fl] - 1, vals[fl], vals[fl] + 1, int(q), int(q) + 1}:
            exact = Fraction(x) > q
            engine = denom * x > denom * r["vlo"] + r["rem"] * (
                r["vhi"] - r["vlo"]
            )
            assert engine == exact, (k, x)


def test_exact_quantile_brackets_validation_and_nulls(spark):
    import pytest as _pytest
    from skope_api_spark.operators.stats import exact_quantile_brackets

    df = spark.createDataFrame([(1,), (None,), (3,)], "x long")
    got = {
        r["num"]: r
        for r in exact_quantile_brackets(df, "x", [0, 2], 2).collect()
    }
    # n=2 after NULL drop; median rank h = 0.5 -> brackets (1, 3), rem 1
    assert got[2]["vlo"] == 3 and got[2]["vhi"] == 3 and got[2]["n"] == 2
    assert got[0]["vlo"] == 1 and got[0]["rem"] == 0
    with _pytest.raises(ValueError, match="numerators"):
        exact_quantile_brackets(df, "x", [], 4)
    with _pytest.raises(ValueError, match="numerators"):
        exact_quantile_brackets(df, "x", [5], 4)
    with _pytest.raises(ValueError, match="denom"):
        exact_quantile_brackets(df, "x", [1], 0)


def test_robust_summary_matches_numpy(spark):
    import numpy as np
    from skope_api_spark.operators.stats import robust_summary

    rng = np.random.default_rng(13)
    vals = np.round(rng.normal(50, 5, 1000), 3)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    row = robust_summary(df, "x", trim=0.1).first()
    assert row["n"] == 1000
    assert abs(row["median"] - np.quantile(vals, 0.5)) < 1e-9
    assert abs(
        row["iqr"] - (np.quantile(vals, 0.75) - np.quantile(vals, 0.25))
    ) < 1e-9
    assert abs(
        row["mad"] - np.quantile(np.abs(vals - np.quantile(vals, 0.5)), 0.5)
    ) < 1e-9
    lo, hi = np.quantile(vals, 0.1), np.quantile(vals, 0.9)
    ref = vals[(vals >= lo) & (vals <= hi)].mean()
    assert abs(row["trimmed_mean"] - ref) < 1e-9


def test_robust_summary_outlier_resistant(spark):
    from skope_api_spark.operators.stats import robust_summary

    base = [float(v) for v in range(100)]
    df_clean = spark.createDataFrame([(v,) for v in base], "x double")
    df_dirty = spark.createDataFrame(
        [(v,) for v in base + [1e9]], "x double"
    )
    clean = robust_summary(df_clean, "x").first()
    dirty = robust_summary(df_dirty, "x").first()
    # median/MAD barely move under a 1e9 outlier
    assert abs(clean["median"] - dirty["median"]) <= 1.0
    assert abs(clean["mad"] - dirty["mad"]) <= 1.0


def test_robust_summary_trim_validation(spark):
    from skope_api_spark.operators.stats import robust_summary

    df = spark.createDataFrame([(1.0,)], "x double")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="trim"):
        robust_summary(df, "x", trim=0.5)


def test_binary_auc_matches_sklearn_formula(spark):
    import numpy as np
    from skope_api_spark.operators.stats import binary_auc

    rng = np.random.default_rng(17)
    pos = rng.normal(1.0, 1.0, 120)
    neg = rng.normal(0.0, 1.0, 200)
    rows = [(float(v), True) for v in pos] + [(float(v), False) for v in neg]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = binary_auc(df, score_col="s", label_col="y").first()
    # reference: Mann-Whitney U via rank sums with average-rank ties
    scores = np.array([r[0] for r in rows])
    labels = np.array([r[1] for r in rows])
    order = np.argsort(scores, kind="stable")
    s_sorted, l_sorted = scores[order], labels[order]
    ranks = np.empty(len(scores))
    i = 0
    while i < len(s_sorted):
        j = i
        while j < len(s_sorted) and s_sorted[j] == s_sorted[i]:
            j += 1
        ranks[i:j] = (i + j + 1) / 2.0  # average rank, 1-based
        i = j
    rank_sum_pos = ranks[l_sorted].sum()
    n_pos, n_neg = labels.sum(), (~labels).sum()
    auc_ref = (rank_sum_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert got["n_pos"] == 120 and got["n_neg"] == 200
    assert abs(got["auc"] - auc_ref) < 1e-12


def test_binary_auc_ties_and_degenerate(spark):
    from skope_api_spark.operators.stats import binary_auc

    # all scores identical: AUC must be exactly 0.5 (pure tie mass)
    df = spark.createDataFrame(
        [(1.0, True)] * 3 + [(1.0, False)] * 5, "s double, y boolean"
    )
    assert binary_auc(df, score_col="s", label_col="y").first()["auc"] == 0.5
    # perfect separation: AUC 1.0
    df2 = spark.createDataFrame(
        [(2.0, True), (3.0, True), (0.0, False), (1.0, False)],
        "s double, y boolean",
    )
    assert binary_auc(df2, score_col="s", label_col="y").first()["auc"] == 1.0
    # single-class: NULL
    df3 = spark.createDataFrame([(1.0, True)], "s double, y boolean")
    assert binary_auc(df3, score_col="s", label_col="y").first()["auc"] is None


def test_grouped_quantiles_match_per_group_percentile(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from skope_api_spark.operators.stats import grouped_quantiles

    rng = np.random.default_rng(23)
    rows = []
    for g, (mu, n) in enumerate([(10, 400), (50, 300), (90, 150)]):
        rows += [(f"g{g}", float(v)) for v in np.round(rng.normal(mu, 5, n), 2)]
    df = spark.createDataFrame(rows, "g string, x double")
    probs = [0.05, 0.5, 0.95]
    got = {
        (r["g"], r["prob"]): r["value"]
        for r in grouped_quantiles(df, "x", probs, by=["g"], partitions=8).collect()
    }
    ref = df.groupBy("g").agg(
        *[F.percentile("x", F.lit(p)).alias(str(p)) for p in probs]
    )
    for r in ref.collect():
        for p in probs:
            assert abs(got[(r["g"], p)] - r[str(p)]) < 1e-9
    assert len(got) == 9


def test_grouped_quantiles_validation(spark):
    from skope_api_spark.operators.stats import grouped_quantiles

    df = spark.createDataFrame([("a", 1.0)], "g string, x double")
    with pytest.raises(ValueError, match="by"):
        grouped_quantiles(df, "x", [0.5], by=[])
    with pytest.raises(ValueError, match="probs"):
        grouped_quantiles(df, "x", [], by=["g"])


def test_gini_known_distributions(spark):
    from skope_api_spark.operators.stats import gini_coefficient

    # perfectly equal: gini 0
    eq = spark.createDataFrame([(10.0,)] * 50, "x double")
    assert abs(gini_coefficient(eq, "x").first()["gini"]) < 1e-12
    # one person owns everything among n=10: gini = (n-1)/n = 0.9
    conc = spark.createDataFrame(
        [(0.0,)] * 9 + [(100.0,)], "x double"
    )
    assert abs(gini_coefficient(conc, "x").first()["gini"] - 0.9) < 1e-12


def test_gini_matches_sorted_formula(spark):
    import numpy as np
    from skope_api_spark.operators.stats import gini_coefficient

    rng = np.random.default_rng(31)
    vals = np.round(rng.lognormal(3, 1, 500), 2)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = gini_coefficient(df, "x").first()["gini"]
    x = np.sort(vals)
    i = np.arange(1, len(x) + 1)
    ref = 2 * np.sum(i * x) / (len(x) * x.sum()) - (len(x) + 1) / len(x)
    assert abs(got - ref) < 1e-10


def test_ks_identical_and_disjoint(spark):
    from skope_api_spark.operators.stats import ks_two_sample

    # identical samples: D == 0
    rows = [(float(v), True) for v in range(20)]
    rows += [(float(v), False) for v in range(20)]
    same = spark.createDataFrame(rows, "v double, g boolean")
    assert ks_two_sample(same, value_col="v", group_col="g").first()["ks_d"] == 0.0
    # disjoint supports: D == 1
    rows = [(float(v), True) for v in range(10)]
    rows += [(float(v + 100), False) for v in range(10)]
    dis = spark.createDataFrame(rows, "v double, g boolean")
    out = ks_two_sample(dis, value_col="v", group_col="g").first()
    assert out["ks_d"] == 1.0 and out["n_a"] == out["n_b"] == 10


def test_ks_hand_computed(spark):
    from skope_api_spark.operators.stats import ks_two_sample

    # A = {1,2,3}, B = {2,3,4}: CDFs diverge most at v=1 -> D = 1/3
    rows = [(1.0, True), (2.0, True), (3.0, True),
            (2.0, False), (3.0, False), (4.0, False)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    assert abs(
        ks_two_sample(df, value_col="v", group_col="g").first()["ks_d"] - 1 / 3
    ) < 1e-12


def test_contingency_independent_columns(spark):
    from skope_api_spark.operators.stats import contingency_stats

    # perfectly independent uniform 2x2 -> MI 0, chi2 0, V 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(25)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = contingency_stats(df, col_a="a", col_b="b").first()
    assert out["n"] == 100 and out["n_cells"] == 4
    assert abs(out["mi_nats"]) < 1e-12
    assert abs(out["chi2"]) < 1e-9
    assert abs(out["cramers_v"]) < 1e-6


def test_contingency_perfect_dependence(spark):
    import math

    from skope_api_spark.operators.stats import contingency_stats

    # b == a: MI = H(a) = ln 2 for a uniform binary column; V = 1
    rows = [("x", "x")] * 30 + [("y", "y")] * 30
    df = spark.createDataFrame(rows, "a string, b string")
    out = contingency_stats(df, col_a="a", col_b="b").first()
    assert abs(out["mi_nats"] - math.log(2)) < 1e-12
    assert abs(out["cramers_v"] - 1.0) < 1e-12


def test_contingency_ignores_nulls(spark):
    from skope_api_spark.operators.stats import contingency_stats

    df = spark.createDataFrame(
        [("x", "u"), (None, "u"), ("x", None)], "a string, b string"
    )
    assert contingency_stats(df, col_a="a", col_b="b").first()["n"] == 1


def test_welch_ttest_known_shift(spark):
    import numpy as np
    from skope_api_spark.operators.stats import welch_ttest

    rng = np.random.default_rng(41)
    a = rng.normal(10, 2, 200)
    b = rng.normal(12, 3, 150)
    rows = [(float(v), True) for v in a] + [(float(v), False) for v in b]
    df = spark.createDataFrame(rows, "v double, g boolean")
    got = welch_ttest(df, value_col="v", group_col="g").first()
    # reference Welch computation in numpy
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t_ref = (a.mean() - b.mean()) / np.sqrt(se2)
    dof_ref = se2**2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert got["n_a"] == 200 and got["n_b"] == 150
    assert abs(got["t_stat"] - t_ref) < 1e-8
    assert abs(got["dof"] - dof_ref) < 1e-6
    assert got["t_stat"] < -4  # the shift is real and negative


def test_welch_ttest_degenerate(spark):
    from skope_api_spark.operators.stats import welch_ttest

    df = spark.createDataFrame(
        [(1.0, True), (2.0, False)], "v double, g boolean"
    )
    got = welch_ttest(df, value_col="v", group_col="g").first()
    assert got["t_stat"] is None and got["dof"] is None


def test_rank_normalize_properties(spark):
    import numpy as np
    from skope_api_spark.operators.stats import rank_normalize

    rng = np.random.default_rng(43)
    vals = np.round(rng.lognormal(0, 2, 400), 3)  # heavy tail
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, x double"
    )
    out = rank_normalize(df, "x")
    rows = sorted(out.collect(), key=lambda r: r["id"])
    rn = np.array([r["rank_norm"] for r in rows])
    # strictly inside (0, 1); monotone with the raw values; mean 1/2
    assert rn.min() > 0 and rn.max() < 1
    order_raw = np.argsort(vals, kind="stable")
    assert (np.diff(rn[order_raw]) >= 0).all()
    assert abs(rn.mean() - 0.5) < 1e-9


def test_rank_normalize_ties_and_nulls(spark):
    from skope_api_spark.operators.stats import rank_normalize

    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 9.0), (4, None)], "id long, x double"
    )
    out = {r["id"]: r["rank_norm"] for r in rank_normalize(df, "x").collect()}
    # mid-ranks over n=3: the tied pair shares (2 - 1)/3 ... = 1/3; top is 2.5/3
    assert out[1] == out[2] == pytest.approx(1 / 3)
    assert out[3] == pytest.approx(2.5 / 3)
    assert out[4] is None


def test_mann_kendall_monotone_series(spark):
    from skope_api_spark.operators.stats import mann_kendall

    # strictly increasing: S = n(n-1)/2, tau_b = 1, z > 0
    df = spark.createDataFrame(
        [(i, float(i) * 2.0) for i in range(8)], "x long, y double"
    )
    r = mann_kendall(df, x="x", y="y").collect()[0]
    assert r["n"] == 8 and r["n_pairs"] == 28
    assert r["s_stat"] == 28
    assert r["tau_b"] == pytest.approx(1.0)
    # var_s = 8*7*21/18 = 65.333..., z = 27 / sqrt(65.333)
    assert r["z"] == pytest.approx(27 / (65.0 + 1 / 3) ** 0.5)


def test_mann_kendall_ties_and_flat(spark):
    from skope_api_spark.operators.stats import mann_kendall

    # all-equal series: S = 0, z = 0 (continuity-corrected), tau NaN-free
    flat = spark.createDataFrame(
        [(i, 3.0) for i in range(5)], "x long, y double"
    )
    r = mann_kendall(flat, x="x", y="y").collect()[0]
    assert r["s_stat"] == 0 and r["z"] == 0.0
    assert r["tau_b"] is None  # tau undefined when every pair is a tie
    # hand-computed tied case: y = 1,2,2,3 -> S = 5 of 6 pairs (one tie)
    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 2.0), (3, 3.0)], "x long, y double"
    )
    r = mann_kendall(df, x="x", y="y").collect()[0]
    assert r["s_stat"] == 5 and r["n_pairs"] == 6
    # tau_b = 5 / sqrt((6-1)*6)
    assert r["tau_b"] == pytest.approx(5 / (5 * 6) ** 0.5)


def test_mann_kendall_degenerate_short_series(spark):
    from skope_api_spark.operators.stats import mann_kendall

    # 1-row series: the pair join is empty — S must COALESCE to 0 (the
    # round-7 advice item: a bare SUM returns NULL here), z = 0, tau NULL
    one = spark.createDataFrame([(0, 7.0)], "x long, y double")
    r = mann_kendall(one, x="x", y="y").collect()[0]
    assert r["s_stat"] == 0 and r["n_pairs"] == 0
    assert r["z"] == 0.0 and r["tau_b"] is None


def test_theil_sen_exact_line_and_outlier(spark):
    from skope_api_spark.operators.stats import theil_sen

    # exact line: recovers slope/intercept exactly
    line = spark.createDataFrame(
        [(i, 3.0 * i + 7.0) for i in range(10)], "x long, y double"
    )
    r = theil_sen(line, x="x", y="y").collect()[0]
    assert r["slope"] == pytest.approx(3.0) and r["intercept"] == pytest.approx(7.0)
    # one wild outlier barely moves the median-based fit (OLS would swing)
    pts = [(i, 2.0 * i + 1.0) for i in range(11)]
    pts[5] = (5, 1000.0)
    out = spark.createDataFrame(pts, "x long, y double")
    r = theil_sen(out, x="x", y="y").collect()[0]
    assert r["slope"] == pytest.approx(2.0, abs=0.1)
    assert r["intercept"] == pytest.approx(1.0, abs=0.5)


def test_calibration_table_perfect_ranking(spark):
    from pyspark.sql import functions as F

    from skope_api_spark.operators.stats import calibration_table

    # scores 1..100, positives = top 20 scores -> top-2 deciles capture all
    rows = [(float(i), i > 80) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = calibration_table(
        df, score_col="score", label=F.col("y"), buckets=10
    ).collect()
    by = {r["bucket"]: r for r in out}
    assert by[10]["pos_rate"] == pytest.approx(1.0)
    assert by[9]["pos_rate"] == pytest.approx(1.0)
    assert by[8]["pos_rate"] == 0.0
    # cumulative gain from the top: 50% after decile 9, flat afterwards
    assert by[9]["cum_gain"] == pytest.approx(1.0)
    assert by[10]["cum_gain"] == pytest.approx(0.5)
    # lift of the top decile = 1.0 / base rate (0.2) = 5x
    assert by[10]["cum_lift"] == pytest.approx(5.0)
    assert by[1]["cum_lift"] == pytest.approx(1.0)  # whole population
    assert sum(r["n"] for r in out) == 100


def test_calibration_no_positives_yields_nulls(spark):
    from pyspark.sql import functions as F

    from skope_api_spark.operators.stats import calibration_table

    df = spark.createDataFrame(
        [(float(i), False) for i in range(40)], "score double, y boolean"
    )
    out = calibration_table(
        df, score_col="score", label=F.col("y"), buckets=4
    ).collect()
    assert all(r["cum_gain"] is None for r in out)  # 0/0 -> NULL, no raise
    assert all(r["pos_rate"] == 0.0 for r in out)


def test_mann_kendall_matches_reference_and_monotone_invariance(spark):
    from skope_api_spark.operators.stats import mann_kendall

    rng = np.random.default_rng(21)
    y = np.round(rng.normal(0, 5, 40), 1)  # 1-dp grid forces some ties
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(y)], "x long, y double"
    )
    r = mann_kendall(df, x="x", y="y").collect()[0]
    s_ref = sum(
        np.sign(y[j] - y[i]) for i in range(40) for j in range(i + 1, 40)
    )
    assert r["s_stat"] == int(s_ref)
    # S depends only on pairwise ORDER: any strictly increasing transform
    # (here 2y+1, which also preserves ties exactly) leaves it unchanged
    df2 = spark.createDataFrame(
        [(i, float(2 * v + 1)) for i, v in enumerate(y)], "x long, y double"
    )
    r2 = mann_kendall(df2, x="x", y="y").collect()[0]
    assert r2["s_stat"] == r["s_stat"]
    assert r2["tau_b"] == pytest.approx(r["tau_b"])
    assert r2["z"] == pytest.approx(r["z"])


def test_theil_sen_matches_reference_and_affine_equivariance(spark):
    from skope_api_spark.operators.stats import theil_sen

    rng = np.random.default_rng(22)
    y = 1.7 * np.arange(30) + rng.normal(0, 2, 30)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(y)], "x long, y double"
    )
    r = theil_sen(df, x="x", y="y").collect()[0]
    slopes = [
        (y[j] - y[i]) / (j - i) for i in range(30) for j in range(i + 1, 30)
    ]
    assert r["slope"] == pytest.approx(float(np.median(slopes)))
    assert r["intercept"] == pytest.approx(
        float(np.median(y - r["slope"] * np.arange(30)))
    )
    # affine equivariance: fit(a·y + b) = (a·slope, a·intercept + b)
    a, b = -3.0, 11.0
    df2 = spark.createDataFrame(
        [(i, float(a * v + b)) for i, v in enumerate(y)], "x long, y double"
    )
    r2 = theil_sen(df2, x="x", y="y").collect()[0]
    assert r2["slope"] == pytest.approx(a * r["slope"])
    assert r2["intercept"] == pytest.approx(a * r["intercept"] + b)


def test_unimax_budget_feasibility_random(spark):
    from pyspark.sql import functions as F

    from skope_api_spark.operators.sampling import unimax_mixing

    rng = np.random.default_rng(23)
    rows, did = [], 0
    for li, lang in enumerate("abcdefg"):
        for _ in range(int(rng.integers(1, 30))):
            per = int(rng.integers(3, 40))
            rows.append((did, lang, " ".join(["w"] * per)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for frac in (0.2, 0.5, 0.9):
        kept = unimax_mixing(docs, budget_frac=frac)
        alloc = {
            r["lang"]: r
            for r in kept.select("lang", "__s", "__capped", "__num", "__den")
            .dropDuplicates(["lang"])
            .collect()
        }
        total = sum(
            len(t.split(" ")) for _, _, t in rows
        )
        budget = int(total * frac)
        # feasibility: capped langs take s_l; uncapped share num/den and
        # the grand total never exceeds the budget
        spent = sum(
            (r["__s"] if r["__capped"] else r["__num"] / r["__den"])
            for r in alloc.values()
        )
        assert spent <= budget + 1e-6
        # every capped language keeps every doc
        kept_counts = {
            r["lang"]: r["count"]
            for r in kept.groupBy("lang").count().collect()
        }
        for lang, r in alloc.items():
            n_docs = sum(1 for _, lg, _ in rows if lg == lang)
            if r["__capped"]:
                assert kept_counts.get(lang, 0) == n_docs
            else:
                assert kept_counts.get(lang, 0) <= n_docs


def test_weighted_quantiles_hand_checked(spark):
    from skope_api_spark.operators.stats import weighted_quantiles

    # values 1..4 with weights 1,1,6,2 (W=10): median lands inside the
    # heavy value 3 (cum: 1,2,8,10 -> first cum*2>=10 is v=3)
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 6), (4.0, 2)], "x double, w long"
    )
    got = {
        (r["k"], r["d"]): r["value"]
        for r in weighted_quantiles(
            df, "x", "w", [(1, 2), (1, 10), (1, 1)]
        ).collect()
    }
    assert got[(1, 2)] == 3.0
    assert got[(1, 10)] == 1.0  # cum(1)*10 = 10 >= 1*10
    assert got[(1, 1)] == 4.0  # full mass -> max value
    # uniform weights degenerate to the plain lower quantile
    u = spark.createDataFrame(
        [(float(i), 1) for i in range(1, 101)], "x double, w long"
    )
    got = {
        (r["k"], r["d"]): r["value"]
        for r in weighted_quantiles(u, "x", "w", [(9, 10)]).collect()
    }
    assert got[(9, 10)] == 90.0
    with pytest.raises(ValueError, match="target"):
        weighted_quantiles(u, "x", "w", [(3, 2)])


def test_grouped_auc_matches_global_per_slice(spark):
    from pyspark.sql import functions as F

    from skope_api_spark.operators.stats import binary_auc, grouped_auc

    rng = np.random.default_rng(31)
    rows = []
    for g in ("a", "b"):
        shift = 2.0 if g == "a" else 0.0  # slice a separable, b not
        for i in range(200):
            y = bool(i % 2)
            s = rng.normal(shift if y else 0.0, 1.0)
            rows.append((g, float(np.round(s, 3)), y))
    df = spark.createDataFrame(rows, "g string, s double, y boolean")
    sliced = {
        r["g"]: r
        for r in grouped_auc(
            df, score_col="s", label_col="y", by=["g"]
        ).collect()
    }
    for g in ("a", "b"):
        ref = binary_auc(
            df.where(F.col("g") == g), score_col="s", label_col="y"
        ).first()
        assert sliced[g]["auc"] == ref["auc"]  # bit-identical per slice
    assert sliced["a"]["auc"] > 0.85 > sliced["b"]["auc"]
    # single-class slice -> NULL auc
    one = spark.createDataFrame(
        [("c", 1.0, True), ("c", 2.0, True)], "g string, s double, y boolean"
    )
    r = grouped_auc(one, score_col="s", label_col="y", by=["g"]).first()
    assert r["auc"] is None


def test_range_prefix_sum_partition_invariance(spark):
    from pyspark.sql import functions as F

    from skope_api_spark.operators.stats import _range_prefix_sum

    rng = np.random.default_rng(41)
    rows = [
        (g, float(v), int(c))
        for g in ("a", "b")
        for v, c in zip(
            rng.choice(10_000, size=500, replace=False),
            rng.integers(1, 50, 500),
        )
    ]
    hist = spark.createDataFrame(rows, "g string, v double, c long")
    # ungrouped and grouped cumulative sums must be identical for ANY
    # partition count (the sf1 sampling-drift regression: both consumers
    # of the partitioned table must see one materialized partitioning)
    expected = None
    for parts in (2, 7, 32):
        got = {
            (r["g"], r["v"]): r["__cum"]
            for r in _range_prefix_sum(
                hist, "v", "c", parts, by=["g"]
            ).collect()
        }
        if expected is None:
            expected = got
        assert got == expected
    # spot-check against a driver-side reference for one group
    import itertools

    ref_rows = sorted((v, c) for g, v, c in rows if g == "a")
    ref = dict(
        zip(
            [v for v, _ in ref_rows],
            itertools.accumulate(c for _, c in ref_rows),
        )
    )
    for (g, v), cum in expected.items():
        if g == "a":
            assert cum == ref[v]
