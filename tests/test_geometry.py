"""Geometry path tests: affine index, all_touched rasterization, semi-join.

Grid layout (dev fixtures, FIXTURES.md §1): top-left (−123, 45), 1° pixels,
5×5 → lon ∈ [−123, −118], lat ∈ [40, 45]. Point (−120, 42.5) → row 2,
col 3; point (−123, 45) → row 0, col 0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skope_api_spark.geometry import (
    Grid,
    InvalidGeometryError,
    SelectedAreaOutOfBoundsError,
    SelectedAreaPolygonIsTooLargeError,
    mask_df,
    point_cell,
    point_predicate,
    rasterize_all_touched,
    select_cells,
)
from skope_api_spark.operators.zonal import zonal_series
from skope_api_spark.sources.cube import analytic_cube

GRID = Grid(origin_lon=-123.0, origin_lat=45.0, pixel_deg=1.0, rows=5, cols=5)


def poly(*coords):
    ring = [list(c) for c in coords] + [list(coords[0])]
    return {"type": "Polygon", "coordinates": [ring]}


class TestCellIndex:
    def test_reference_points(self):
        assert GRID.cell_index(-120.0, 42.5) == (2, 3)
        assert GRID.cell_index(-123.0, 45.0) == (0, 0)
        assert GRID.cell_index(-122.5, 44.5) == (0, 0)
        assert GRID.cell_index(-118.5, 40.5) == (4, 4)

    def test_point_predicate_bounds(self, spark):
        with pytest.raises(SelectedAreaOutOfBoundsError):
            point_predicate(GRID, {"type": "Point", "coordinates": [-130.0, 42.0]})
        # far edges are inside (covers() is inclusive) and clamp to the last cell
        for lon, lat, cell in [(-118.0, 40.0, (4, 4)), (-118.0, 45.0, (0, 4)),
                               (-123.0, 40.0, (4, 0)), (-120.0, 42.5, (2, 3))]:
            point = {"type": "Point", "coordinates": [lon, lat]}
            assert point_cell(GRID, point) == cell
            assert point_cell(GRID, {"type": "Feature", "geometry": point}) == cell
        for lon, lat in [(-118.0 + 1e-9, 42.0), (-120.0, 40.0 - 1e-9),
                         (-123.0 - 1e-9, 42.0), (-120.0, 45.0 + 1e-9)]:
            with pytest.raises(SelectedAreaOutOfBoundsError):
                point_cell(GRID, {"type": "Point", "coordinates": [lon, lat]})
        with pytest.raises(InvalidGeometryError):
            point_cell(GRID, {"type": "LineString", "coordinates": [[-120, 42], [-119, 43]]})

    def test_point_on_far_edge_clamps(self, spark):
        pred = point_predicate(GRID, {"type": "Point", "coordinates": [-118.0, 40.0]})
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        rows = cube.where(pred).select("row", "col").distinct().collect()
        assert [(r.row, r.col) for r in rows] == [(4, 4)]


class TestRasterize:
    def test_interior_square(self):
        # square strictly inside cells (1..2, 1..2)
        g = poly((-121.9, 43.9), (-120.1, 43.9), (-120.1, 42.1), (-121.9, 42.1))
        assert rasterize_all_touched(GRID, g) == [(1, 1), (1, 2), (2, 1), (2, 2)]

    def test_all_touched_boundary(self):
        # polygon edge exactly on the shared boundary lon=-121 touches both sides
        g = poly((-121.0, 43.5), (-120.5, 43.5), (-120.5, 43.4), (-121.0, 43.4))
        cells = rasterize_all_touched(GRID, g)
        assert (1, 1) in cells and (1, 2) in cells

    def test_triangle(self):
        # triangle spanning cells around (-121.5, 42.5)
        g = poly((-122.5, 41.1), (-120.6, 41.1), (-121.55, 43.8))
        cells = set(rasterize_all_touched(GRID, g))
        assert (3, 0) in cells and (3, 2) in cells and (1, 1) in cells
        assert (0, 0) not in cells and (4, 4) not in cells

    def test_polygon_with_hole(self):
        outer = [[-122.9, 44.9], [-118.1, 44.9], [-118.1, 40.1], [-122.9, 40.1], [-122.9, 44.9]]
        # hole spans cols 1-3 / rows 1-3 with margin: cell (2,2) is strictly inside it
        hole = [[-121.95, 43.95], [-119.05, 43.95], [-119.05, 41.05], [-121.95, 41.05], [-121.95, 43.95]]
        g = {"type": "Polygon", "coordinates": [outer, hole]}
        cells = set(rasterize_all_touched(GRID, g))
        # center cell fully inside the hole is NOT touched
        assert (2, 2) not in cells
        # hole-boundary cells ARE touched; so is the outer frame
        assert (1, 1) in cells and (0, 0) in cells
        assert len(cells) == 24

    def test_multipolygon_and_feature_collection(self):
        g1 = poly((-122.9, 44.9), (-122.1, 44.9), (-122.1, 44.1), (-122.9, 44.1))
        g2 = poly((-118.9, 40.9), (-118.1, 40.9), (-118.1, 40.1), (-118.9, 40.1))
        fc = {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "geometry": g1, "properties": {}},
                {"type": "Feature", "geometry": g2, "properties": {}},
            ],
        }
        assert rasterize_all_touched(GRID, fc) == [(0, 0), (4, 4)]

    def test_out_of_bounds_raises(self):
        g = poly((-130.0, 50.0), (-129.0, 50.0), (-129.0, 49.0), (-130.0, 49.0))
        with pytest.raises(SelectedAreaOutOfBoundsError):
            rasterize_all_touched(GRID, g)

    def test_too_large_raises(self):
        g = poly((-122.9, 44.9), (-118.1, 44.9), (-118.1, 40.1), (-122.9, 40.1))
        with pytest.raises(SelectedAreaPolygonIsTooLargeError):
            rasterize_all_touched(GRID, g, max_cells=4)

    def test_invalid_geometry(self):
        with pytest.raises(InvalidGeometryError):
            rasterize_all_touched(GRID, {"type": "LineString", "coordinates": []})
        with pytest.raises(InvalidGeometryError):
            rasterize_all_touched(
                GRID, {"type": "Polygon", "coordinates": [[[-121, 43], [-120, 43]]]}
            )


class TestSemiJoin:
    def test_polygon_zonal_mean_matches_manual(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        cells = [(1, 1), (1, 2), (2, 1), (2, 2)]
        selected = select_cells(cube, mask_df(spark, cells))
        out = {r.band: r for r in zonal_series(selected, "mean").collect()}
        for b in range(1, 6):
            vals = [b * 100 + r * 10 + c for (r, c) in cells]
            assert out[b].value == sum(vals) / 4
            assert out[b].n_cells == 4

    def test_semi_join_is_broadcast(self, spark):
        cube = analytic_cube(spark, "annual_5x5x5_dataset", "uint16_variable")
        selected = select_cells(cube, mask_df(spark, [(0, 0)]))
        plan = selected._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
