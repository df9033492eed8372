"""Batched multi-query execution: one scan, one shuffle, N picks
(``api.service.zonal_picks``, the one cell-selection plan)."""

from __future__ import annotations

from skope_api_spark.api.service import zonal_picks
from skope_api_spark.plans.intervals import BandRange
from skope_api_spark.sources.cube import analytic_cube

BANDS = [BandRange(1, 5)]


def _by_pick(cube, picks) -> dict:
    """(query_id, band) → row of ``zonal_picks`` over whole-series picks."""
    out = zonal_picks(cube, "mean", [(cells, BANDS) for cells in picks])
    return {(r.query_id, r.band): r for r in out.collect()}


class TestBatchedExecution:
    def test_results_match_per_query_runs(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        square = [(1, 1), (1, 2), (2, 1), (2, 2)]
        out = _by_pick(cube, [[(0, 0)], square])
        for b in range(1, 6):
            assert (out[(0, b)].value, out[(0, b)].n_cells) == (b * 100.0, 1)
            vals = [b * 100 + r * 10 + c for (r, c) in square]
            assert (out[(1, b)].value, out[(1, b)].n_cells) == (sum(vals) / 4, 4)
        alone = _by_pick(cube, [square])
        assert {b: r.value for (_, b), r in alone.items()} == {
            b: out[(1, b)].value for b in range(1, 6)
        }

    def test_overlapping_masks_count_independently(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        out = _by_pick(cube, [[(0, 0), (0, 1)], [(0, 0)]])  # share cell (0,0)
        assert out[(0, 1)].n_cells == 2 and out[(1, 1)].n_cells == 1

    def test_each_pick_keeps_its_own_bands(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        picks = [([(0, 0), (0, 1)], [BandRange(1, 1), BandRange(4, 5)]),
                 ([(0, 0), (1, 0)], [BandRange(2, 3)])]
        rows = zonal_picks(cube, "mean", picks).collect()
        assert sorted((r.query_id, r.band) for r in rows) == [
            (0, 1), (0, 4), (0, 5), (1, 2), (1, 3)
        ]

    def test_single_scan_single_aggregate_exchange(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        points = [[(i % 5, (i * 2) % 5)] for i in range(20)]

        def plan(picks):
            df = zonal_picks(cube, "mean", [(cells, BANDS) for cells in picks])
            return df._jdf.queryExecution().executedPlan().toString()

        # 20 one-cell picks: one mask join, and a projection (no shuffle)
        assert plan(points).count("BroadcastHashJoin") == 1
        assert plan(points).count("Exchange hashpartitioning") == 0
        # with a polygon among them: still exactly one cube lineage and
        # one aggregation shuffle
        mixed = plan(points + [[(1, 1), (1, 2), (2, 1), (2, 2)]])
        assert mixed.count("BroadcastHashJoin") == 1
        assert mixed.count("Exchange hashpartitioning") == 1
