"""Datacube long table — the engine's representation of (x, y, time) rasters.

The reference reads multi-band GeoTIFFs band-wise (S1, reference
``timeseries/app/schemas/geometry.py:90-94, 193``). Spark-first, the cube is
a long Parquet table ``(dataset_id, variable_id, band, time, row, col, lon,
lat, cell_area, value, tile)`` partitioned by ``(dataset_id, variable_id,
tile)``, ``tile`` being the cell's 16x16-cell tile (``TILE_SQL``), and
sorted within each tile's file by ``(band, row, col)`` (``write_lake``).
The planner keeps only the files of a request's tiles, before any task
starts, and the Parquet page indexes let the service's ``band IN`` sets,
pushed as ``In(band, ...)`` and bounded by their least and greatest band,
skip the pages of every other band (SURVEY.md §1.1, §4).

``analytic_cube`` regenerates the reference's dev fixtures exactly from
their analytic construction rule (value = band·100 + row·10 + col·1.1
float32-rounded, etc. — FIXTURES.md §1; decoded from the GeoTIFFs behind
reference ``test_datasets.py:68-88``), so no raster reader is needed:
nodata cells become NULL (P4), cell centers/areas are materialized at
ingestion (P5/A4).

``cell_area`` is the exact WGS84 ellipsoidal band area (``cell_area_m2``),
computed on the driver once per grid row: every ingest path and the
service's ``area_m2`` use that one function. The reference uses pyproj's
geodesic area (``geometry.py:62-71,141-156``); the two differ by < 1e-5
relative on ≤1° cells (pyproj is unavailable here).
"""

from __future__ import annotations

import math
from datetime import date

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.plans.catalog import DEV_CATALOG, DatasetMeta
from skope_api_spark.plans.intervals import MONTH
from skope_api_spark.session import local_frame

# WGS84 ellipsoid — cell areas use the EXACT ellipsoidal band integral
# (Snyder, "Map Projections — A Working Manual", eq. 3-12): for a cell
# bounded by meridians and parallels,
#   area = Δλ · a²/2 · (q(φ_top) − q(φ_bot)),
#   q(φ) = (1−e²)·[ sinφ/(1−e²sin²φ) + (1/(2e))·ln((1+e·sinφ)/(1−e·sinφ)) ]
# This matches the reference's WGS84 geodesic area (pyproj
# Geod.geometry_area_perimeter, reference geometry.py:62-71) to <1e-5
# relative on ≤1° cells (the residual is the geodesic-vs-parallel edge,
# O(Δλ²·sinφcosφ) — negligible at cell scale), replacing the spherical
# authalic approximation that diverged by up to 0.3%.
WGS84_A_M = 6378137.0
WGS84_E2 = 6.69437999014132e-3  # first eccentricity squared = f(2−f)
WGS84_E = math.sqrt(WGS84_E2)

# Edge, in cells, of the square tiles that partition each lake slice.
TILE_CELLS = 16
# A cell's tile id. Ids are unique while a grid is at most 4096 tiles
# (65,536 cells) wide; ``tile_of`` is the same id on the driver.
TILE_SQL = f"CAST((row DIV {TILE_CELLS}) * 4096 + col DIV {TILE_CELLS} AS INT)"


def tile_of(row: int, col: int) -> int:
    """The ``TILE_SQL`` id of cell ``(row, col)``."""
    return row // TILE_CELLS * 4096 + col // TILE_CELLS


def _authalic_q(sin_phi):
    s = sin_phi
    return (1.0 - WGS84_E2) * (
        s / (1.0 - WGS84_E2 * s * s)
        + np.log((1.0 + WGS84_E * s) / (1.0 - WGS84_E * s)) / (2.0 * WGS84_E)
    )

# variable_id → (value rule, float32-rounded?, null rule)
# value rule / null rule are SQL boolean/arith expressions over b, r, c.
VARIABLE_RULES: dict[tuple[str, str], dict] = {
    ("annual_5x5x5_dataset", "float32_variable"): {
        "value": "b * 100 + r * 10 + c * 1.1",
        "f32": True,
        "null": "(r = 3 AND c = 4) OR (b = 3 AND r = 2 AND c = 4)",
    },
    ("annual_5x5x5_dataset", "uint16_variable"): {
        "value": "b * 100 + r * 10 + c",
        "f32": False,
        # r12 parity fix: the reference's REAL shipped raster
        # (timeseries/data/annual_5x5x5_dataset_uint16_variable.tif)
        # carries GDAL_NODATA=65535 with sentinel cells at (3,4) in every
        # band and (2,4) in band 3 — the same holes as float32_variable;
        # 65535 IS representable in uint16, so the reference's read-time
        # nulling (schemas/geometry.py:95) masks them. Verified by
        # decoding the actual file bytes (sources/geotiff.py:
        # read_baseline_tiff; tests/test_reference_rasters.py).
        "null": "(r = 3 AND c = 4) OR (b = 3 AND r = 2 AND c = 4)",
    },
    ("monthly_5x5x60_dataset", "float32_variable"): {
        "value": "b * 100 + r * 10 + c * 1.1",
        "f32": True,
        "null": "r = 3 AND c = 4",
    },
    ("monthly_5x5x60_dataset", "int16_variable"): {
        "value": "b * 100 + r * 10 + c",
        "f32": False,
        "null": "FALSE",
    },
    ("annual_5x5x5_dataset", "float32_variable_uncertainty"): {
        "value": "b * 10 + r + c * 0.1",
        "f32": True,
        "null": "FALSE",
    },
}


def cell_area_m2(lat_top_deg, pixel_deg: float, pixel_deg_lon: float | None = None):
    """Exact WGS84 ellipsoidal area of the cells whose top edges sit at
    these latitudes (meridian/parallel-bounded quads); a scalar or a numpy
    array of latitudes, elementwise. ``pixel_deg`` is the LATITUDE extent;
    ``pixel_deg_lon`` the longitude extent (defaults to square pixels) —
    Δλ scales the area linearly, the latitude band sets the authalic term
    (the GeoTIFF ETL's rectangular pixels need both)."""
    dlon = math.radians(pixel_deg if pixel_deg_lon is None else pixel_deg_lon)
    return (
        dlon
        * WGS84_A_M**2
        / 2.0
        * (
            _authalic_q(np.sin(np.radians(lat_top_deg)))
            - _authalic_q(np.sin(np.radians(lat_top_deg - pixel_deg)))
        )
    )


def analytic_cube(
    spark: SparkSession,
    dataset_id: str,
    variable_id: str,
    *,
    meta: DatasetMeta | None = None,
    rule: dict | None = None,
) -> DataFrame:
    """Generate one (dataset, variable) cube slice as a long DataFrame.

    ``meta``/``rule`` default to the dev catalog; pass both to generate a
    cube for a custom dataset (e.g. rectangular-pixel grids in tests)."""
    meta = DEV_CATALOG[dataset_id] if meta is None else meta
    rule = VARIABLE_RULES[(dataset_id, variable_id)] if rule is None else rule
    nb = meta.n_bands()

    # general form for arbitrary (possibly rectangular) pixels, matching
    # Grid.cell_bounds: cell (r, c) spans [origin + c*px_lon, ...); center
    # at +px/2 on each axis.
    px_lon = meta.pixel_deg if meta.pixel_deg_lon is None else meta.pixel_deg_lon
    px = meta.pixel_deg if meta.pixel_deg_lat is None else meta.pixel_deg_lat
    # a row's cells share their area: the row dimension carries it
    areas = cell_area_m2(meta.origin_lat - np.arange(meta.grid_rows) * px, px, px_lon)
    df = (
        spark.range(1, nb + 1)
        .select(F.col("id").cast("int").alias("b"))
        .crossJoin(local_frame(spark, list(enumerate(areas.tolist())), "r int, cell_area double"))
        .crossJoin(spark.range(0, meta.grid_cols).select(F.col("id").cast("int").alias("c")))
    )

    raw = F.expr(rule["value"]).cast("double")
    if rule["f32"]:
        raw = raw.cast("float").cast("double")
    value = F.when(F.expr(rule["null"]), F.lit(None).cast("double")).otherwise(raw)

    # NOTE: F.lit(date(1,1,1)) breaks — py4j stringifies via strftime, which
    # does not zero-pad year 1, and java.sql.Date.valueOf rejects "1-01-01".
    # isoformat() zero-pads, so ancient dates survive the driver→JVM hop.
    origin = F.to_date(F.lit(meta.time_range.gte.isoformat()))
    if meta.resolution == MONTH:
        time = F.add_months(origin, F.col("b") - 1)
    else:
        time = F.add_months(origin, (F.col("b") - 1) * 12)

    lon = F.lit(meta.origin_lon) + F.col("c") * F.lit(px_lon) + F.lit(px_lon / 2)
    lat = F.lit(meta.origin_lat) - F.col("r") * F.lit(px) - F.lit(px / 2)

    return df.select(
        F.lit(dataset_id).alias("dataset_id"),
        F.lit(variable_id).alias("variable_id"),
        F.col("b").alias("band"),
        time.alias("time"),
        F.col("r").alias("row"),
        F.col("c").alias("col"),
        lon.alias("lon"),
        lat.alias("lat"),
        "cell_area",
        value.alias("value"),
    ).withColumn("tile", F.expr(TILE_SQL))


def full_dev_cube(spark: SparkSession) -> DataFrame:
    """All dev fixture slices unioned — the engine's dev 'datalake'."""
    out = None
    for dataset_id, variable_id in VARIABLE_RULES:
        part = analytic_cube(spark, dataset_id, variable_id)
        out = part if out is None else out.unionByName(part)
    return out


def ingest_to_parquet(spark: SparkSession, path: str) -> None:
    """S1 ingestion: write the dev cube as the lake (``write_lake``).

    What prunes a request's scan: the (dataset_id, variable_id, tile)
    partition directories first, so the planner lists only the files of
    the request's tiles, then the Parquet page indexes of each tile's
    ``(band, row, col)`` order, which skip every page outside the
    request's band range.
    """
    write_lake(full_dev_cube(spark), path)


def write_lake(cube: DataFrame, path: str) -> None:
    """Write a long cube as the lake, the one layout every ingest path
    uses: partitioned by (dataset_id, variable_id, tile), one file per
    tile, sorted by (band, row, col). ``tile`` is (re)derived here from
    ``TILE_SQL``, so any long cube can be written.

    The input is repartitioned by the partition columns, so a slice's
    tiles are written by several tasks and each tile by exactly one. The
    partition columns lead the sort: the file writer sorts its input by
    them unless that input's order already starts with them, and its own
    sort drops any order under it.
    """
    (
        cube.withColumn("tile", F.expr(TILE_SQL))
        .repartition("dataset_id", "variable_id", "tile")
        .sortWithinPartitions("dataset_id", "variable_id", "tile", "band", "row", "col")
        .write.mode("overwrite")
        .partitionBy("dataset_id", "variable_id", "tile")
        .parquet(path)
    )
