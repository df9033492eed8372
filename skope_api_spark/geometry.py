"""Geometry compilation: GeoJSON → cell predicates / mask DataFrames.

The reference rasterizes the selected geometry over the raster grid with
``rasterio.features.geometry_mask(..., all_touched=True)`` and applies it as
a numpy boolean mask (reference ``timeseries/app/schemas/geometry.py:87-94``
point, ``:174-209`` polygon). Spark-first, the same semantics become:

- **point** → affine-inverse cell index → equality predicate on the
  materialized (row, col) columns — pure pushdown, no join (P5/S2);
- **polygon / multipolygon / feature collection** → driver-side
  rasterization to the (tiny) set of touched (row, col) cells → broadcast
  **left-semi join** against the cube (P6/J1). The mask is O(bbox cells),
  never O(data).

rasterio/shapely are unavailable in this environment, so the rasterizer is
implemented here in pure Python with the same ``all_touched=True`` contract:
a cell is selected iff its square intersects the polygon (interior or
boundary). For axis-aligned cells this is exact computational geometry —
vertex-in-cell, cell-corner-in-polygon (even-odd with holes), and
edge-pair intersection tests — not a sampling approximation.

Bounds validation mirrors the reference (``geometry.py:73-79`` point covers,
``:158-172`` polygon interiors-intersect): out-of-bounds selections raise
``SelectedAreaOutOfBoundsError`` before any Spark job is submitted. The
``max_cells`` guard reproduces the reference's too-large request error
(``geometry.py:117-122``, S4 remnant).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.session import local_frame

DEFAULT_MAX_CELLS = 500_000  # reference config.py:33


class SelectedAreaOutOfBoundsError(ValueError):
    """Geometry does not intersect the dataset's grid (reference 422)."""


class SelectedAreaPolygonIsTooLargeError(ValueError):
    """Selection exceeds the max-cells guard (reference exceptions.py:29-37)."""


class InvalidGeometryError(ValueError):
    """Malformed GeoJSON (reference geometry validity 422 family)."""


@dataclass(frozen=True)
class Grid:
    """Axis-aligned raster grid: top-left corner + pixel size.

    ``pixel_deg`` is the square-pixel convenience; rasters whose lon/lat
    resolutions differ (common after reprojection — the reference affine
    handles this via ``dataset.index``, geometry.py:87-89) set
    ``pixel_deg_lon`` / ``pixel_deg_lat``, which default to ``pixel_deg``.
    """

    origin_lon: float
    origin_lat: float
    pixel_deg: float
    rows: int
    cols: int
    pixel_deg_lon: float | None = None
    pixel_deg_lat: float | None = None

    @property
    def px_lon(self) -> float:
        return self.pixel_deg if self.pixel_deg_lon is None else self.pixel_deg_lon

    @property
    def px_lat(self) -> float:
        return self.pixel_deg if self.pixel_deg_lat is None else self.pixel_deg_lat

    def cell_index(self, lon: float, lat: float) -> tuple[int, int]:
        """Affine inverse: lon/lat → (row, col), 0-based (reference
        ``dataset.index(x, y)``, geometry.py:87-89)."""
        col = int((lon - self.origin_lon) // self.px_lon)
        row = int((self.origin_lat - lat) // self.px_lat)
        return row, col

    def covers(self, lon: float, lat: float) -> bool:
        return (
            self.origin_lon <= lon <= self.origin_lon + self.cols * self.px_lon
            and self.origin_lat - self.rows * self.px_lat <= lat <= self.origin_lat
        )

    def cell_bounds(self, row: int, col: int) -> tuple[float, float, float, float]:
        """(min_lon, min_lat, max_lon, max_lat) of one cell."""
        lon0 = self.origin_lon + col * self.px_lon
        lat1 = self.origin_lat - row * self.px_lat
        return lon0, lat1 - self.px_lat, lon0 + self.px_lon, lat1


# --- pure-python computational geometry -------------------------------------

Ring = list[tuple[float, float]]


def _point_in_rings(x: float, y: float, rings: list[Ring]) -> bool:
    """Even-odd ray casting over all rings (holes flip parity naturally)."""
    inside = False
    for ring in rings:
        n = len(ring)
        for i in range(n - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            if (y1 > y) != (y2 > y):
                xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                if x < xin:
                    inside = not inside
    return inside


def _segments_intersect(p1, p2, p3, p4) -> bool:
    """Proper or touching intersection of segments p1p2 and p3p4."""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and on_seg(p1, p2, p3):
        return True
    if o2 == 0 and on_seg(p1, p2, p4):
        return True
    if o3 == 0 and on_seg(p3, p4, p1):
        return True
    if o4 == 0 and on_seg(p3, p4, p2):
        return True
    return False


def _rect_touches_polygon(
    bounds: tuple[float, float, float, float], rings: list[Ring]
) -> bool:
    """Cell-square ∩ polygon ≠ ∅ (all_touched contract).

    True iff a polygon vertex lies in the rect, a rect corner lies inside
    the polygon (even-odd, holes included), or any ring edge crosses any
    rect edge.
    """
    x0, y0, x1, y1 = bounds
    for ring in rings:
        for px, py in ring:
            if x0 <= px <= x1 and y0 <= py <= y1:
                return True
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    for cx, cy in corners:
        if _point_in_rings(cx, cy, rings):
            return True
    rect_edges = [
        (corners[0], corners[1]),
        (corners[1], corners[2]),
        (corners[2], corners[3]),
        (corners[3], corners[0]),
    ]
    for ring in rings:
        for i in range(len(ring) - 1):
            for ra, rb in rect_edges:
                if _segments_intersect(ring[i], ring[i + 1], ra, rb):
                    return True
    return False


# --- GeoJSON handling --------------------------------------------------------


def _close_ring(ring: Ring) -> Ring:
    if not ring:
        raise InvalidGeometryError("empty ring")
    if len(ring) < 4 or ring[0] != ring[-1]:
        raise InvalidGeometryError("polygon ring must be closed with >= 4 points")
    return ring


def _polygons_of(geojson: dict) -> list[list[Ring]]:
    """Flatten any GeoJSON into a list of polygons (each = list of rings)."""
    t = geojson.get("type")
    if t == "Polygon":
        return [[_close_ring([tuple(p) for p in ring]) for ring in geojson["coordinates"]]]
    if t == "MultiPolygon":
        return [
            [_close_ring([tuple(p) for p in ring]) for ring in poly]
            for poly in geojson["coordinates"]
        ]
    if t == "Feature":
        return _polygons_of(geojson["geometry"])
    if t == "FeatureCollection":
        out: list[list[Ring]] = []
        for feat in geojson["features"]:
            out.extend(_polygons_of(feat))
        return out
    if t == "GeometryCollection":
        out = []
        for g in geojson["geometries"]:
            out.extend(_polygons_of(g))
        return out
    raise InvalidGeometryError(f"unsupported geometry type {t!r}")


def rasterize_all_touched(
    grid: Grid, geojson: dict, *, max_cells: int = DEFAULT_MAX_CELLS
) -> list[tuple[int, int]]:
    """Driver-side rasterization: the touched (row, col) set, bbox-cropped.

    Work is bounded by the geometry's bbox on the grid (crop=True parity,
    reference geometry.py:181-183); raises when the bbox exceeds
    ``max_cells`` or nothing intersects the grid.
    """
    polys = _polygons_of(geojson)
    cells: set[tuple[int, int]] = set()
    for rings in polys:
        xs = [p[0] for r in rings for p in r]
        ys = [p[1] for r in rings for p in r]
        # bbox → cropped cell window (clipped to the grid), widened by one
        # cell so a polygon edge lying exactly on a cell border still lets
        # the exact per-cell test see the zero-width-touching neighbor
        r0, c0 = grid.cell_index(min(xs), max(ys))
        r1, c1 = grid.cell_index(max(xs), min(ys))
        r0, c0 = max(r0 - 1, 0), max(c0 - 1, 0)
        r1, c1 = min(r1 + 1, grid.rows - 1), min(c1 + 1, grid.cols - 1)
        if r1 < r0 or c1 < c0:
            continue
        if (r1 - r0 + 1) * (c1 - c0 + 1) > max_cells:
            raise SelectedAreaPolygonIsTooLargeError(
                f"selection window {(r1 - r0 + 1) * (c1 - c0 + 1)} cells "
                f"exceeds max {max_cells}"
            )
        for row in range(r0, r1 + 1):
            for col in range(c0, c1 + 1):
                if (row, col) in cells:
                    continue
                if _rect_touches_polygon(grid.cell_bounds(row, col), rings):
                    cells.add((row, col))
    if not cells:
        raise SelectedAreaOutOfBoundsError(
            "geometry does not intersect the dataset grid"
        )
    return sorted(cells)


def point_cell(grid: Grid, geojson: dict) -> tuple[int, int]:
    """Point (or Point Feature) → its (row, col) cell (P5), bounds-checked
    (P7). Points on the far edge land on the last cell (``covers`` is
    inclusive)."""
    t = geojson.get("type")
    if t == "Feature":
        return point_cell(grid, geojson["geometry"])
    if t != "Point":
        raise InvalidGeometryError(f"expected Point, got {t!r}")
    lon, lat = geojson["coordinates"][:2]
    if not grid.covers(lon, lat):
        raise SelectedAreaOutOfBoundsError(
            f"point ({lon}, {lat}) outside dataset bounds"
        )
    row, col = grid.cell_index(lon, lat)
    return min(row, grid.rows - 1), min(col, grid.cols - 1)


def point_predicate(grid: Grid, geojson: dict):
    """Point → (row, col) equality predicate: pure pushdown, no join."""
    row, col = point_cell(grid, geojson)
    return (F.col("row") == row) & (F.col("col") == col)


def mask_df(
    spark: SparkSession, rows: list[tuple], schema: str = "row int, col int"
) -> DataFrame:
    """Selected cells as a broadcastable frame (via Arrow): (row, col)
    pairs, or rows of any ``schema`` that carries ``row`` and ``col`` (a
    batch tags each cell with its ``query_id``)."""
    return local_frame(spark, rows, schema)


def select_cells(cube: DataFrame, mask: DataFrame) -> DataFrame:
    """J1 — spatial semi-join: cube ⋉ broadcast mask on (row, col).

    The mask is driver-rasterized and tiny relative to the cube; broadcast
    left-semi keeps the cube un-shuffled (only the scan + local hash probe).
    """
    return cube.join(F.broadcast(mask), ["row", "col"], "left_semi")


def select_polygon(
    cube: DataFrame,
    grid: Grid,
    geojson: dict,
    *,
    max_cells: int = DEFAULT_MAX_CELLS,
) -> DataFrame:
    spark = cube.sparkSession
    cells = rasterize_all_touched(grid, geojson, max_cells=max_cells)
    return select_cells(cube, mask_df(spark, cells))
