"""Fold-based nearest-centroid assignment (r16): the map-only
``_fold_nearest`` / ``_fold_nearest_code`` rewrites must reproduce the
former ``crossJoin(broadcast) + groupBy(max_by/min_by)`` semantics
bit-for-bit — including the tie-break (lowest cell), NaN ordering
(Spark's NaN-largest), and null scores (never win; all-null → null
cell). These pins exist so a future refactor of the fold cannot
silently diverge from the oracle's ``ORDER BY score, cell`` contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from skope_api_spark.operators.similarity import (
    _fold_nearest,
    _fold_nearest_code,
    _ssd,
    cosine,
)


def _maxby_reference(df, cents, vec_col):
    """The pre-r16 assignment shape, kept here as the semantic oracle."""
    scored = df.crossJoin(F.broadcast(cents)).withColumn(
        "__csim", cosine(F.col(vec_col), F.col("centroid"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("cell")),
                F.struct(F.col("__csim"), (-F.col("cell")).alias("nc")),
            ).alias("best")
        )
        .select("vec_id", F.col("best.cell").alias("cell"))
    )


class TestFoldNearest:
    def test_matches_maxby_on_ties_nan_and_null(self, spark):
        # cells 0 and 1 are colinear -> EXACT cosine tie for any positive
        # x-axis vector; cell 2 is orthogonal. Rows:
        #   1: ties cells 0/1 (cos=1.0 both)   -> lowest cell (0) wins
        #   2: nearest cell 2
        #   4: null vector -> every cosine null; the max_by key is a
        #      STRUCT (never null), so nulls are ORDERED (nulls-first =
        #      smallest), all tie, and the -cell tie-break picks the
        #      lowest cell — NOT ignored, NOT a null result
        # (a zero-norm vector is NOT testable: under ANSI mode cosine's
        # division throws DIVIDE_BY_ZERO identically in the old max_by
        # form and the fold — pre-existing operator behavior)
        rows = [
            (1, [3.0, 0.0]),
            (2, [0.0, 5.0]),
            (4, None),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 1.0])],
            "cell int, centroid array<double>",
        )
        got = {
            r.vec_id: r.cell
            for r in _fold_nearest(df, cents, vec_col="embedding")
            .select("vec_id", F.col("__best.cell").alias("cell"))
            .collect()
        }
        ref = {
            r.vec_id: r.cell
            for r in _maxby_reference(df, cents, "embedding").collect()
        }
        assert got == ref
        assert got[1] == 0  # exact-tie -> lowest cell
        assert got[2] == 2
        assert got[4] == 0  # all-null scores tie -> lowest cell

    def test_empty_codebook_emits_zero_rows(self, spark):
        # _codebook_row is a global agg: an EMPTY cents table still
        # yields one row with an empty __cb array. The old
        # crossJoin+groupBy form emitted zero rows there; the fold must
        # match (r17, ADVICE r16) — not keep every row with a null cell.
        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        cents = spark.createDataFrame(
            [], "cell int, centroid array<double>"
        )
        assert _fold_nearest(df, cents, vec_col="embedding").count() == 0

    def test_neither_cents_nor_cb_raises(self, spark):
        import pytest

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="cents"):
            _fold_nearest(df, vec_col="embedding")


class TestFoldNearestCode:
    def test_matches_minby_on_ties_and_null(self, spark):
        # per-subspace codebook: j=0 has two IDENTICAL centroids (exact
        # ssd tie -> lowest cell); j=1 separates the two subvectors.
        subs = spark.createDataFrame(
            [
                (1, 0, [1.0, 1.0]),
                (1, 1, [0.0, 9.0]),
                # null subvector -> null ssd; the min_by key is a STRUCT
                # (never null), so the null is ORDERED (nulls-first =
                # smallest) and WINS the min, ties to the lowest cell
                (2, 1, None),
            ],
            "vec_id long, j int, sv array<double>",
        )
        cb = spark.createDataFrame(
            [
                (0, 0, [1.0, 1.0]),
                (0, 1, [1.0, 1.0]),
                (1, 0, [0.0, 8.0]),
                (1, 1, [5.0, 0.0]),
            ],
            "j int, cell int, centroid array<double>",
        )
        got = {
            (r.vec_id, r.j): r.cell
            for r in _fold_nearest_code(subs, cb)
            .select("vec_id", "j", "cell")
            .collect()
        }
        ref_scored = subs.join(F.broadcast(cb), "j").select(
            "vec_id", "j", "cell",
            _ssd(F.col("sv"), F.col("centroid")).alias("ssd"),
        )
        ref = {
            (r.vec_id, r.j): r.cell
            for r in ref_scored.groupBy("vec_id", "j")
            .agg(F.min_by("cell", F.struct("ssd", "cell")).alias("cell"))
            .collect()
        }
        assert got == ref
        assert got[(1, 0)] == 0  # exact ssd tie -> lowest cell
        assert got[(1, 1)] == 0  # [0,9] closer to [0,8] than [5,0]
        assert got[(2, 1)] == 0  # null ssd sorts first -> lowest cell
