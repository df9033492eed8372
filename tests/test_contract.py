"""Registry integrity: the driver-contract surface stays wired and sane."""

from __future__ import annotations

import re


class TestRegistry:
    def test_entry_module_exposes_registry(self):
        import __spark_entry__ as e

        qs, oracles = e.queries(), e.oracle_sql()
        assert len(qs) >= 58
        assert set(oracles) <= set(qs)
        # every query callable, every oracle a non-empty SELECT/WITH
        for name, fn in qs.items():
            assert callable(fn), name
            assert re.fullmatch(r"[a-z0-9_]+", name), name
        for name, sql in oracles.items():
            assert sql.strip().upper().startswith(("SELECT", "WITH")), name

    def test_api_spine_leads_the_gate_window(self):
        """The external correctness gate replays the first 50 registry
        names; the SKOPE API spine (18 skope_* + 5 W1-W4 queries) leads."""
        from skope_api_spark.contract import QUERIES, SPINE_PREFIXES

        names = list(QUERIES)
        spine = [n for n in names if n.startswith(SPINE_PREFIXES)]
        assert len(QUERIES) == 263
        assert len(spine) == 23
        assert names[:23] == spine

    def test_no_duplicate_registration_on_reimport(self):
        import importlib

        import skope_api_spark.contract as c

        n = len(c.QUERIES)
        importlib.reload(c)
        assert len(c.QUERIES) == n

    def test_entry_runs(self, spark):
        import __spark_entry__ as e

        rows = e.entry(spark).collect()
        assert len(rows) > 0


class TestOracleHygiene:
    """The rules from registry.py's docstring, enforced."""

    def test_no_percentile_approx_in_oracle_checked_queries(self):
        """Engine-specific sketch estimates must not reach hashed output.
        A query may still USE a sketch internally when its declared contract
        is determinism-safe (exact values + tolerance booleans) — it says so
        in its docstring."""
        import inspect

        import skope_api_spark.contract as c

        for name in c.ORACLES:
            src = inspect.getsource(c.QUERIES[name])
            doc = c.QUERIES[name].__doc__ or ""
            for sketch in ("approx_count_distinct(", "percentile_approx("):
                if sketch in src:
                    assert "determinism-safe" in doc, (
                        f"{name}: raw sketch estimate in a hashed output"
                    )

    def test_sketch_contracts_are_boolean_verdicts(self, spark):
        """The determinism-safe marker is not an honor system: every
        sketch-using checked query must (a) carry at least one boolean
        verdict column — the structural shape of a bounds contract, not a
        raw estimate — and (b) produce identical results under a
        different shuffle partitioning (sketch merge order must not
        reach the hashed output)."""
        import inspect

        import skope_api_spark.contract as c

        sf = "/root/testdata/sf0.001"
        for name in c.ORACLES:
            src = inspect.getsource(c.QUERIES[name])
            if not any(
                s in src
                for s in ("approx_count_distinct(", "percentile_approx(")
            ):
                continue
            df = c.QUERIES[name](spark, sf)
            types = [f.dataType.typeName() for f in df.schema.fields]
            assert "boolean" in types, (
                f"{name}: sketch query without a verdict column"
            )
            a = sorted(map(tuple, df.collect()))
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            try:
                b = sorted(
                    map(tuple, c.QUERIES[name](spark, sf).collect())
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            assert a == b, f"{name}: partitioning-dependent output"

    def test_round_used_on_float_aggregates(self):
        """Order-dependent double aggregates must be rounded in oracles
        (registry.py rule) — spot-check that SUM over doubles is wrapped."""
        import skope_api_spark.contract as c

        for name, sql in c.ORACLES.items():
            for m in re.finditer(r"SUM\((l_extendedprice|o_totalprice|value)\b", sql):
                # the ROUND may wrap a larger expression (e.g. a ratio of
                # sums), so look back far enough to find it
                prefix = sql[max(0, m.start() - 160) : m.start()].upper()
                assert "ROUND" in prefix or "EPOCH" in prefix, (
                    f"{name}: unrounded double SUM at …{sql[m.start():m.start()+50]!r}"
                )


class TestEngineRules:
    def test_no_collect_in_operator_hot_paths(self):
        """The engine's own rule: no driver-side collect/toPandas inside
        operator modules — iterative convergence counts (dedup clusters)
        are one documented exception; linalg.py's driver-side
        eigendecomposition collects the d x d sufficient statistic —
        bounded by dimension, never by data — and is the other."""
        import pathlib

        ops_dir = pathlib.Path("skope_api_spark/operators")
        allowed_counts = {"dedup.py", "linalg.py"}  # convergence check / d x d stats
        for mod in ops_dir.glob("*.py"):
            src = mod.read_text()
            assert ".toPandas(" not in src, mod.name
            if mod.name in allowed_counts:
                continue
            assert ".collect(" not in src, mod.name

    def test_no_row_at_a_time_python_udf(self):
        """F.udf (per-row Python) never appears; only pandas_udf /
        mapInPandas / applyInPandasWithState (Arrow-batched) are allowed."""
        import pathlib

        for mod in pathlib.Path("skope_api_spark").rglob("*.py"):
            src = mod.read_text()
            assert "F.udf(" not in src and "functions.udf(" not in src, str(mod)


class TestSafeCorr:
    """safe_corr: NULL (not ANSI DIVIDE_BY_ZERO) on zero variance, and
    pairwise-complete moments exactly like F.corr (the lag-column case
    that a bare stddev_pop composition gets wrong)."""

    def test_zero_variance_group_yields_null_not_error(self, spark):
        from skope_api_spark.contract.registry import safe_corr

        df = spark.createDataFrame(
            [(1, 1.0, 5.0), (1, 1.0, 6.0), (2, 1.0, 5.0), (2, 2.0, 7.0)],
            "g int, x double, y double",
        )
        rows = {
            r["g"]: r["c"]
            for r in df.groupBy("g")
            .agg(safe_corr("x", "y").alias("c"))
            .collect()
        }
        assert rows[1] is None  # x constant in group 1
        assert abs(rows[2] - 1.0) < 1e-12

    def test_windowed_zero_variance_yields_null(self, spark):
        from pyspark.sql import Window as W

        from skope_api_spark.contract.registry import safe_corr

        df = spark.createDataFrame(
            [(i, 3.0, float(i)) for i in range(5)], "i int, x double, y double"
        )
        w = W.orderBy("i").rowsBetween(-2, 0)
        out = df.select(safe_corr("x", "y", over=w).alias("c")).collect()
        assert all(r["c"] is None for r in out)  # x constant everywhere

    def test_pairwise_null_alignment_matches_f_corr(self, spark):
        from pyspark.sql import functions as F

        from skope_api_spark.contract.registry import safe_corr

        # y has NULLs (the lag-column shape); corr must use only
        # pairwise-complete rows for BOTH moments
        data = [
            (1.0, None), (2.0, 4.0), (3.0, 1.0), (4.0, 9.0),
            (100.0, None), (5.0, 2.0),
        ]
        df = spark.createDataFrame(data, "x double, y double")
        got = df.agg(safe_corr("x", "y").alias("c")).collect()[0]["c"]
        ref = df.agg(F.corr("x", "y").alias("c")).collect()[0]["c"]
        assert abs(got - ref) < 1e-12
