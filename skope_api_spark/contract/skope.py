"""SKOPE datacube contract queries — the reference-parity analytical core.

Each query runs on the analytic dev cube (generated in-memory by
``sources.cube.analytic_cube``; the DuckDB oracle regenerates the identical
cube from the same construction rule via ``_cube_sql``), so the reference's
own golden identities (point series = band·100 …, reference
``test_datasets.py:68-88``; trailing/centered window labeling,
``test_datasets.py:91-121``) are continuously oracle-checked at the
driver's correctness gate.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.api.service import _grid, cells_area_m2, zonal_picks
from skope_api_spark.contract.registry import query, round_nz
from skope_api_spark.geometry import rasterize_all_touched
from skope_api_spark.operators import windows as wops
from skope_api_spark.operators.zonal import summary_stats, zonal_series
from skope_api_spark.plans.catalog import DEV_CATALOG
from skope_api_spark.plans.intervals import (
    BandRange,
    centered_adjustment,
    extraction_band_range,
    output_band_range,
    trailing_adjustment,
)
from skope_api_spark.sources.cube import (
    VARIABLE_RULES,
    WGS84_A_M,
    WGS84_E,
    WGS84_E2,
    analytic_cube,
)

ANNUAL = "annual_5x5x5_dataset"
MONTHLY = "monthly_5x5x60_dataset"
F32 = "float32_variable"


def _iso(col: str = "time"):
    """Ancient-date hash stability: the dev cubes start at year 1 CE, which
    is outside pandas' ns-timestamp range (1677-2262), so any DateType
    output would be mis-represented by Arrow/pandas-based hashers. Checked
    queries therefore emit dates as ISO strings (both engines zero-pad:
    Spark date_format 'yyyy-MM-dd' and DuckDB CAST(date AS VARCHAR))."""
    return F.date_format(col, "yyyy-MM-dd")


def _cube_sql(dataset_id: str, variable_id: str) -> str:
    """DuckDB CTE regenerating one cube slice from the analytic rule."""
    meta = DEV_CATALOG[dataset_id]
    rule = VARIABLE_RULES[(dataset_id, variable_id)]
    nb = meta.n_bands()
    step = 1 if meta.resolution == "month" else 12
    val = rule["value"]
    val = (
        f"CAST(CAST({val} AS FLOAT) AS DOUBLE)"
        if rule["f32"]
        else f"CAST({val} AS DOUBLE)"
    )
    px = meta.pixel_deg
    k = math.radians(px) * WGS84_A_M**2 / 2.0
    # exact WGS84 ellipsoidal band area (same formula as sources.cube —
    # Snyder eq. 3-12); both engines evaluate IEEE sin/ln on identical
    # inputs, and contract outputs ROUND the area, so the hash is stable.
    q = (
        f"{1.0 - WGS84_E2!r} * (SIN_PHI / (1 - {WGS84_E2!r} * SIN_PHI * SIN_PHI)"
        f" + ln((1 + {WGS84_E!r} * SIN_PHI) / (1 - {WGS84_E!r} * SIN_PHI))"
        f" / {2.0 * WGS84_E!r})"
    )
    q_top = q.replace("SIN_PHI", f"sin(radians({meta.origin_lat!r} - r * {px!r}))")
    q_bot = q.replace(
        "SIN_PHI", f"sin(radians({meta.origin_lat!r} - r * {px!r} - {px!r}))"
    )
    return f"""
WITH cube AS (
  SELECT b AS band,
         CAST(DATE '0001-01-01' + (b - 1) * {step} * INTERVAL 1 MONTH AS DATE) AS time,
         r, c,
         {meta.origin_lon!r} + c * {px!r} + {px / 2!r} AS lon,
         {meta.origin_lat!r} - r * {px!r} - {px / 2!r} AS lat,
         {k!r} * (({q_top}) - ({q_bot})) AS cell_area,
         CASE WHEN {rule["null"]} THEN NULL ELSE {val} END AS value
  FROM range(1, {nb + 1}) tb(b), range(0, {meta.grid_rows}) tr(r),
       range(0, {meta.grid_cols}) tc(c)
)
"""


# every band of the annual dev cube: the band list of a whole-series pick
_ALL_BANDS = [BandRange(1, DEV_CATALOG[ANNUAL].n_bands())]
# the cube origin as a one-cell pick (golden identity: value = band·100)
_ORIGIN = ([(0, 0)], _ALL_BANDS)


# --- point extraction (S2, P5, A1 on one cell) ------------------------------
@query(
    "skope_point_extraction",
    oracle=_cube_sql(ANNUAL, F32)
    + """
SELECT band, CAST(time AS VARCHAR) AS time, value
FROM cube WHERE r = 0 AND c = 0
ORDER BY band
""",
)
def skope_point_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden identity: value at the cube origin = band·100 exactly
    (reference test_datasets.py:88). S2/P5 through the service's own cell
    selection (``zonal_picks``): a literal ``row``/``col`` predicate pushed
    to the scan, the one cell's value projected with no aggregation."""
    return (
        zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [_ORIGIN])
        .select("band", _iso().alias("time"), "value")
        .orderBy("band")
    )


# --- zonal mean + counts over the full grid (A1, A3) ------------------------
@query(
    "skope_zonal_mean",
    oracle=_cube_sql(ANNUAL, F32)
    + """
SELECT band, CAST(time AS VARCHAR) AS time,
       ROUND(AVG(value), 4) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(COUNT(value) AS BIGINT) AS n_valid
FROM cube
GROUP BY band, time
ORDER BY band
""",
)
def skope_zonal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = analytic_cube(spark, ANNUAL, F32)
    out = zonal_series(cube, "mean")
    return out.select(
        "band",
        _iso().alias("time"),
        F.round("value", 4).alias("value"),
        "n_cells",
        "n_valid",
    ).orderBy("band")


# --- exact zonal median on the monthly cube (A2) ----------------------------
@query(
    "skope_zonal_median_monthly",
    oracle=_cube_sql(MONTHLY, F32)
    + """
SELECT band, CAST(time AS VARCHAR) AS time,
       ROUND(MEDIAN(value), 4) AS value,
       CAST(COUNT(value) AS BIGINT) AS n_valid
FROM cube
GROUP BY band, time
ORDER BY band
""",
)
def skope_zonal_median_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = analytic_cube(spark, MONTHLY, F32)
    out = zonal_series(cube, "median")
    return out.select(
        "band",
        _iso().alias("time"),
        F.round("value", 4).alias("value"),
        "n_valid",
    ).orderBy("band")


# --- bbox selection + geodesic-style area (S3 prefilter, A4) ----------------
@query(
    "skope_bbox_zonal_area",
    oracle=_cube_sql(ANNUAL, F32)
    + """
SELECT band,
       ROUND(AVG(value), 4) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(SUM(cell_area) / 1e6, 2) AS area_km2
FROM cube
WHERE lon BETWEEN -122.2 AND -119.3 AND lat BETWEEN 41.4 AND 44.1
GROUP BY band
ORDER BY band
""",
)
def skope_bbox_zonal_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox predicate = the 'crop=True' pushdown (reference geometry.py:181-183);
    area = sum of ingestion-time per-cell areas (reference geometry.py:141-156)."""
    cube = analytic_cube(spark, ANNUAL, F32).where(
        F.col("lon").between(-122.2, -119.3) & F.col("lat").between(41.4, 44.1)
    )
    return (
        cube.groupBy("band")
        .agg(
            F.round(F.avg("value"), 4).alias("value"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("cell_area") / 1e6, 2).alias("area_km2"),
        )
        .orderBy("band")
    )


# --- temporal resampling: monthly → annual (extension) ----------------------
@query(
    "skope_monthly_to_annual_resample",
    oracle=_cube_sql(MONTHLY, F32)
    + """
, series AS (
  SELECT band, time, AVG(value) AS value
  FROM cube GROUP BY band, time
)
SELECT CAST(EXTRACT(year FROM time) AS INT) AS year,
       ROUND(AVG(value), 4) AS annual_mean,
       ROUND(MIN(value), 4) AS annual_min,
       ROUND(MAX(value), 4) AS annual_max,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM series
GROUP BY year
ORDER BY year
""",
)
def skope_monthly_to_annual_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal resampling: the monthly zonal series rolled up to annual
    statistics by calendar year — the time-dimension rollup the reference
    cannot express (its band arithmetic is fixed-resolution)."""
    cube = analytic_cube(spark, MONTHLY, F32)
    series = zonal_series(cube, "mean").select("band", "time", "value")
    return (
        series.groupBy(F.year("time").alias("year"))
        .agg(
            F.round(F.avg("value"), 4).alias("annual_mean"),
            F.round(F.min("value"), 4).alias("annual_min"),
            F.round(F.max("value"), 4).alias("annual_max"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .orderBy("year")
    )


# --- area-weighted zonal mean (extension beyond reference) ------------------
@query(
    "skope_area_weighted_mean",
    oracle=_cube_sql(ANNUAL, F32)
    + """
SELECT band,
       ROUND(SUM(CASE WHEN value IS NOT NULL THEN value * cell_area END)
             / SUM(CASE WHEN value IS NOT NULL THEN cell_area END), 4)
         AS weighted_mean,
       CAST(COUNT(value) AS BIGINT) AS n_valid
FROM cube
GROUP BY band
ORDER BY band
""",
)
def skope_area_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted zonal mean over the full grid: cos-φ-correct averaging
    for lat-lon cells (reference averages unweighted; extension)."""
    from skope_api_spark.operators.zonal import weighted_zonal_series

    cube = analytic_cube(spark, ANNUAL, F32)
    out = weighted_zonal_series(cube, keys=("band",))
    return out.select(
        "band", F.round("weighted_mean", 4).alias("weighted_mean"), "n_valid"
    ).orderBy("band")


# --- smoothers on the extracted series (W1, W2) -----------------------------
_SERIES_SQL = (
    _cube_sql(ANNUAL, F32)
    + ", series AS (SELECT band, time, value FROM cube WHERE r = 0 AND c = 0)\n"
)


@query(
    "skope_trailing_ma",
    oracle=_SERIES_SQL
    + """
SELECT band, CAST(time AS VARCHAR) AS time, ROUND(sm, 4) AS smoothed FROM (
  SELECT band, time,
    CASE WHEN COUNT(*) OVER w = 2 AND COUNT(value) OVER w = 2
         THEN AVG(value) OVER w END AS sm
  FROM series
  WINDOW w AS (ORDER BY band ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
) WHERE sm IS NOT NULL
ORDER BY band
""",
)
def skope_trailing_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — trailing w=2, current band excluded; only full windows emit
    (verified semantics of reference test_datasets.py:116-119)."""
    series = zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [_ORIGIN])
    out = wops.trailing_moving_average(
        series, "value", order_by=("band",), width=2, out_col="smoothed"
    )
    return (
        out.where(F.col("smoothed").isNotNull())
        .select("band", _iso().alias("time"), F.round("smoothed", 4).alias("smoothed"))
        .orderBy("band")
    )


@query(
    "skope_centered_ma",
    oracle=_SERIES_SQL
    + """
SELECT band, CAST(time AS VARCHAR) AS time, ROUND(sm, 4) AS smoothed FROM (
  SELECT band, time,
    CASE WHEN COUNT(*) OVER w = 3 AND COUNT(value) OVER w = 3
         THEN AVG(value) OVER w END AS sm
  FROM series
  WINDOW w AS (ORDER BY band ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
) WHERE sm IS NOT NULL
ORDER BY band
""",
)
def skope_centered_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — centered w=3, 'valid' convolution (full windows only)."""
    series = zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [_ORIGIN])
    out = wops.centered_moving_average(
        series, "value", order_by=("band",), width=3, out_col="smoothed"
    )
    return (
        out.where(F.col("smoothed").isNotNull())
        .select("band", _iso().alias("time"), F.round("smoothed", 4).alias("smoothed"))
        .orderBy("band")
    )


# --- NaN-poisoning under the oracle (W1/W2 on a NULL-bearing series) --------
_NULL_SERIES_SQL = (
    _cube_sql(ANNUAL, F32)
    + ", series AS (SELECT band, time, value FROM cube WHERE r = 2 AND c = 4)\n"
)


@query(
    "skope_nan_poisoning_smoothers",
    oracle=_NULL_SERIES_SQL
    + """
, trailing2 AS (
  SELECT 'trailing_2' AS series_name, band, time, sm FROM (
    SELECT band, time,
      CASE WHEN COUNT(*) OVER w = 2 AND COUNT(value) OVER w = 2
           THEN AVG(value) OVER w END AS sm
    FROM series
    WINDOW w AS (ORDER BY band ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
  ) WHERE sm IS NOT NULL
), centered3 AS (
  SELECT 'centered_3' AS series_name, band, time, sm FROM (
    SELECT band, time,
      CASE WHEN COUNT(*) OVER w = 3 AND COUNT(value) OVER w = 3
           THEN AVG(value) OVER w END AS sm
    FROM series
    WINDOW w AS (ORDER BY band ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
  ) WHERE sm IS NOT NULL
)
SELECT series_name, band, CAST(time AS VARCHAR) AS time,
       ROUND(sm, 4) AS smoothed
FROM (SELECT * FROM trailing2 UNION ALL SELECT * FROM centered3)
ORDER BY series_name, band
""",
)
def skope_nan_poisoning_smoothers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 NaN-poisoning at the gate: cell (2, 4) of the annual cube has a
    mid-series NULL at band 3 (VARIABLE_RULES), so every centered w=3 window
    touches it (5 bands → 0 rows emitted) and trailing w=2 emits ONLY band 3
    (window = bands 1-2, the sole all-valid window). Reference parity:
    np.convolve(mode='valid') over a NaN-bearing series poisons every
    overlapping window (reference timeseries.py:110-112)."""
    series = zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [([(2, 4)], _ALL_BANDS)])
    parts = []
    for name, fn, width in (
        ("trailing_2", wops.trailing_moving_average, 2),
        ("centered_3", wops.centered_moving_average, 3),
    ):
        sm = fn(series, "value", order_by=("band",), width=width, out_col="sm")
        parts.append(
            sm.where(F.col("sm").isNotNull())
            .withColumn("series_name", F.lit(name))
            .select(
                "series_name",
                "band",
                _iso().alias("time"),
                F.round("sm", 4).alias("smoothed"),
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("series_name", "band")


# --- z-score transforms on the series (W3, W4) ------------------------------
@query(
    "skope_rolling_zscore",
    oracle=_SERIES_SQL
    + """
SELECT band, (ROUND(z, 4) + 0.0) AS zscore FROM (
  SELECT band,
    CASE WHEN COUNT(*) OVER w = 2 AND STDDEV_POP(value) OVER w > 0
         THEN (value - AVG(value) OVER w) / STDDEV_POP(value) OVER w END AS z
  FROM series
  WINDOW w AS (ORDER BY band ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
) WHERE z IS NOT NULL
ORDER BY band
""",
)
def skope_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — z of current band vs preceding 2 (exclusive), ddof=0."""
    series = zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [_ORIGIN])
    out = wops.rolling_zscore(
        series, "value", order_by=("band",), width=2, out_col="zscore"
    )
    return (
        out.where(F.col("zscore").isNotNull())
        .select("band", round_nz("zscore", 4).alias("zscore"))
        .orderBy("band")
    )


@query(
    "skope_fixed_zscore",
    oracle=_SERIES_SQL
    + """
SELECT band, (ROUND(z, 4) + 0.0) AS zscore FROM (
  SELECT band,
    CASE WHEN STDDEV_POP(value) OVER () > 0
         THEN (value - AVG(value) OVER ()) / STDDEV_POP(value) OVER () END AS z
  FROM series
)
ORDER BY band
""",
)
def skope_fixed_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — z vs the whole selected interval (scipy zscore ddof=0 parity)."""
    series = zonal_picks(analytic_cube(spark, ANNUAL, F32), "mean", [_ORIGIN])
    out = wops.fixed_interval_zscore(series, "value", out_col="zscore")
    return out.select("band", round_nz("zscore", 4).alias("zscore")).orderBy("band")


# --- summary stats (A5) -----------------------------------------------------
@query(
    "skope_summary_stats",
    oracle=_cube_sql(ANNUAL, F32)
    + """
SELECT r AS row, c AS col,
       ROUND(AVG(value), 4) AS mean,
       ROUND(MEDIAN(value), 4) AS median,
       ROUND(STDDEV_POP(value), 4) AS stddev,
       CAST(COUNT(value) AS BIGINT) AS n_valid
FROM cube
GROUP BY r, c
ORDER BY row, col
""",
)
def skope_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 per cell-series: population stddev, exact median; the all-NULL
    series (row 3, col 4) yields NULL stats — numpy nan*-function parity."""
    cube = analytic_cube(spark, ANNUAL, F32)
    out = summary_stats(cube, keys=("row", "col"))
    return out.select(
        "row",
        "col",
        F.round("mean", 4).alias("mean"),
        F.round("median", 4).alias("median"),
        F.round("stddev", 4).alias("stddev"),
        "n_valid",
    ).orderBy("row", "col")


# --- catalog dimension join (J2, S5) ----------------------------------------
@query(
    "skope_catalog_metadata_join",
    oracle=_cube_sql(ANNUAL, F32)
    + """
, catalog(dataset_id, variable_id, resolution, time_gte, time_lte) AS (
  VALUES
    ('annual_5x5x5_dataset', 'float32_variable', 'year', DATE '0001-01-01', DATE '0005-01-01'),
    ('annual_5x5x5_dataset', 'uint16_variable', 'year', DATE '0001-01-01', DATE '0005-01-01'),
    ('monthly_5x5x60_dataset', 'float32_variable', 'month', DATE '0001-01-01', DATE '0005-12-01'),
    ('monthly_5x5x60_dataset', 'int16_variable', 'month', DATE '0001-01-01', DATE '0005-12-01')
)
SELECT c.resolution, cube.band, CAST(c.time_lte AS VARCHAR) AS time_lte,
       ROUND(AVG(cube.value), 4) AS value
FROM cube
JOIN catalog c
  ON c.dataset_id = 'annual_5x5x5_dataset' AND c.variable_id = 'float32_variable'
GROUP BY c.resolution, cube.band, c.time_lte
ORDER BY band
""",
)
def skope_catalog_metadata_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/S5 — the catalog as a broadcast dimension DataFrame joined into
    the query (metadata-driven plans at scale batch over this dim instead
    of looping driver-side). The oracle inlines the same catalog rows."""
    from skope_api_spark.plans.catalog import catalog_df

    cube = analytic_cube(spark, ANNUAL, F32)
    cat = catalog_df(spark).where(
        (F.col("dataset_id") == ANNUAL) & (F.col("variable_id") == F32)
    )
    return (
        cube.crossJoin(F.broadcast(cat.select("resolution", "time_lte")))
        .groupBy("resolution", "band", "time_lte")
        .agg(F.round(F.avg("value"), 4).alias("value"))
        .select(
            "resolution", "band", _iso("time_lte").alias("time_lte"), "value"
        )
        .orderBy("band")
    )


# --- uncertainty companion variable (S6) ------------------------------------
@query(
    "skope_point_with_uncertainty",
    oracle=_cube_sql(ANNUAL, F32).rstrip()
    + ",\n"
    + _cube_sql(ANNUAL, "float32_variable_uncertainty")
    .strip()
    .removeprefix("WITH ")
    .replace("cube AS", "ucube AS", 1)
    + """
SELECT c.band, CAST(c.time AS VARCHAR) AS time, c.value,
       u.value AS uncertainty,
       ROUND(c.value - u.value, 4) AS lo,
       ROUND(c.value + u.value, 4) AS hi
FROM cube c JOIN ucube u ON c.band = u.band AND c.r = u.r AND c.c = u.c
WHERE c.r = 0 AND c.c = 0
ORDER BY c.band
""",
)
def skope_point_with_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — the companion ``{variable_id}_uncertainty`` series of the same
    cell beside the value series: value ± uncertainty bands (the reference
    wires this source but never serves it). One lone pick over both
    variables, one scan, as the service reads a point and its uncertainty."""
    unc = F32 + "_uncertainty"
    cube = analytic_cube(spark, ANNUAL, F32).unionByName(analytic_cube(spark, ANNUAL, unc))
    return (
        zonal_picks(cube, "mean", [_ORIGIN])
        .groupBy("band", "time")
        .pivot("variable_id", [F32, unc])  # one row per (band, variable)
        .agg(F.max("value"))
        .select(
            "band",
            _iso().alias("time"),
            F.col(F32).alias("value"),
            F.col(unc).alias("uncertainty"),
            F.round(F.col(F32) - F.col(unc), 4).alias("lo"),
            F.round(F.col(F32) + F.col(unc), 4).alias("hi"),
        )
        .orderBy("band")
    )


# --- polygon mask → cell selection of a lone pick (P6, J1, A4) -------------
_TRIANGLE = {
    "type": "Polygon",
    "coordinates": [
        [[-122.5, 41.1], [-120.6, 41.1], [-121.55, 43.8], [-122.5, 41.1]]
    ],
}
_GRID = _grid(DEV_CATALOG[ANNUAL])
_TRIANGLE_CELLS = rasterize_all_touched(_GRID, _TRIANGLE)
_TRIANGLE_CELLS_SQL = ", ".join(f"({r}, {c})" for r, c in _TRIANGLE_CELLS)


@query(
    "skope_polygon_zonal_stats",
    oracle=_cube_sql(ANNUAL, F32)
    + f"""
, mask(mr, mc) AS (VALUES {_TRIANGLE_CELLS_SQL})
SELECT band,
       ROUND(AVG(value), 4) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(SUM(cell_area) / 1e6, 2) AS area_km2
FROM cube
WHERE EXISTS (SELECT 1 FROM mask WHERE mr = r AND mc = c)
GROUP BY band
ORDER BY band
""",
)
def skope_polygon_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J1 — driver-side all_touched rasterization of a triangle → the
    service's cell selection of a lone pick, a literal predicate over the
    cells (the semi-join as a filter) → zonal stats + area (A4), the
    area being the service's own sum of the cells' areas. The oracle
    applies the identical driver-rasterized mask as literals."""
    cube = analytic_cube(spark, ANNUAL, F32)
    area_km2 = cells_area_m2(_GRID, _TRIANGLE_CELLS) / 1e6
    return (
        zonal_picks(cube, "mean", [(_TRIANGLE_CELLS, _ALL_BANDS)])
        .select(
            "band",
            F.round("value", 4).alias("value"),
            "n_cells",
            F.round(F.lit(area_km2), 2).alias("area_km2"),
        )
        .orderBy("band")
    )


# --- batched multi-geometry execution (the 100 TB shape) --------------------
_BATCH_MASKS = {
    "origin_point": [(0, 0)],
    "center_square": [(1, 1), (1, 2), (2, 1), (2, 2)],
    "triangle": _TRIANGLE_CELLS,
}


def _batch_mask_sql() -> str:
    rows = ", ".join(
        f"('{qid}', {r}, {c})"
        for qid, cells in _BATCH_MASKS.items()
        for (r, c) in cells
    )
    return f"(VALUES {rows})"


@query(
    "skope_batched_multi_query",
    oracle=_cube_sql(ANNUAL, F32)
    + f"""
, mask(query_id, mr, mc) AS (SELECT * FROM {_batch_mask_sql()})
SELECT m.query_id, cube.band,
       ROUND(AVG(value), 4) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM cube JOIN mask m ON cube.r = m.mr AND cube.c = m.mc
GROUP BY m.query_id, cube.band
ORDER BY query_id, band
""",
)
def skope_batched_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N geometries → ONE scan + ONE aggregation via the service's
    query_id-tagged broadcast mask join — the batched execution model that
    replaces one-job-per-request at cluster scale. A pick's query_id is its
    index; it maps back to the geometry's name."""
    cube = analytic_cube(spark, ANNUAL, F32)
    picks = [(cells, _ALL_BANDS) for cells in _BATCH_MASKS.values()]
    names = F.array(*(F.lit(name) for name in _BATCH_MASKS))
    out = zonal_picks(cube, "mean", picks)
    return out.select(
        F.element_at(names, F.col("query_id") + 1).alias("query_id"),
        "band",
        F.round("value", 4).alias("value"),
        "n_cells",
    ).orderBy("query_id", "band")


# --- multi-series fan-out with padding planner (A7, W6, W7) -----------------
@query(
    "skope_multi_series_fanout",
    oracle=_SERIES_SQL
    + """
, no_smoother AS (
  SELECT 'none' AS series_name, band, time, value FROM series
  WHERE band BETWEEN 1 AND 4
), trailing2 AS (
  SELECT 'trailing_2' AS series_name, band, time, sm AS value FROM (
    SELECT band, time,
      CASE WHEN COUNT(*) OVER w = 2 THEN AVG(value) OVER w END AS sm
    FROM series
    WINDOW w AS (ORDER BY band ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
  ) WHERE band BETWEEN 3 AND 4
), centered3 AS (
  SELECT 'centered_3' AS series_name, band, time, sm AS value FROM (
    SELECT band, time,
      CASE WHEN COUNT(*) OVER w = 3 THEN AVG(value) OVER w END AS sm
    FROM series
    WINDOW w AS (ORDER BY band ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
  ) WHERE band BETWEEN 2 AND 4
)
SELECT series_name, band, CAST(time AS VARCHAR) AS time,
       ROUND(value, 4) AS value FROM no_smoother
UNION ALL SELECT series_name, band, CAST(time AS VARCHAR), ROUND(value, 4)
FROM trailing2
UNION ALL SELECT series_name, band, CAST(time AS VARCHAR), ROUND(value, 4)
FROM centered3
ORDER BY series_name, band
""",
)
def skope_multi_series_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's window-labeling semantics as one query
    (test_datasets.py:91-121): request years 1–4 with [NoSmoother,
    trailing w=2, centered w=3] → output ranges [1–4], [3–4], [2–4].

    One shared extraction (W6 hull union of padded ranges), per-series
    window + clip (W7), unionByName fan-out (A7).
    """
    requested = BandRange(1, 4)
    available = BandRange(1, DEV_CATALOG[ANNUAL].n_bands())
    smoothers = {
        "none": (0, 0),
        "trailing_2": trailing_adjustment(2),
        "centered_3": centered_adjustment(3),
    }
    extract = extraction_band_range(
        requested, available, smoother_adjustments=tuple(smoothers.values())
    )
    cube = analytic_cube(spark, ANNUAL, F32)
    base = zonal_picks(cube, "mean", [([(0, 0)], [extract])]).select(
        "band", "time", "value"
    )

    parts = []
    for name, adj in smoothers.items():
        if name == "none":
            sm = base
        elif name == "trailing_2":
            sm = wops.trailing_moving_average(
                base, "value", order_by=("band",), width=2, out_col="sm"
            ).select("band", "time", F.col("sm").alias("value"))
        else:
            sm = wops.centered_moving_average(
                base, "value", order_by=("band",), width=3, out_col="sm"
            ).select("band", "time", F.col("sm").alias("value"))
        out_range = output_band_range(extract, requested, adj)
        parts.append(
            sm.where(F.col("band").between(out_range.gte, out_range.lte))
            .withColumn("series_name", F.lit(name))
            .select(
                "series_name",
                "band",
                _iso().alias("time"),
                F.round("value", 4).alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("series_name", "band")


# --- dev-raster ingest through the correctness gate --------------------------
# The five dev rasters, written from the FIXTURES.md §1 laws by
# ``sources.geotiff.write_baseline_tiff``; the laws equal the reference's
# shipped raster bytes cell for cell.
_REF_DATA = str(Path(__file__).resolve().parent.parent / "data")
_REF_RASTER_PAIRS = [
    (ANNUAL, F32, "year"),
    (ANNUAL, "uint16_variable", "year"),
    (ANNUAL, "float32_variable_uncertainty", "year"),
    (MONTHLY, F32, "month"),
    (MONTHLY, "int16_variable", "month"),
]


def _all_ref_cubes_sql() -> str:
    """One DuckDB CTE per shipped raster slice (renamed so the five
    ``cube`` CTEs don't collide), unioned into ``allcells``."""
    ctes, sels = [], []
    for i, (ds, var, _res) in enumerate(_REF_RASTER_PAIRS):
        c = (
            _cube_sql(ds, var)
            .strip()
            .removeprefix("WITH ")
            .replace("cube AS", f"cube{i} AS", 1)
        )
        ctes.append(c)
        sels.append(
            f"SELECT '{ds}' AS dataset_id, '{var}' AS variable_id, "
            f"band, value FROM cube{i}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + ",\nallcells AS (\n"
        + "\nUNION ALL\n".join(sels)
        + "\n)\n"
    )


@query(
    "skope_reference_raster_zonal",
    oracle=_all_ref_cubes_sql()
    + """
SELECT dataset_id, variable_id, band,
       ROUND(AVG(value), 4) AS mean_value,
       CAST(COUNT(value) AS BIGINT) AS n_valid,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM allcells
GROUP BY dataset_id, variable_id, band
ORDER BY dataset_id, variable_id, band
""",
)
def skope_reference_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 on raster bytes: decode all five dev rasters (``_REF_DATA`` —
    the GeoTIFFs the reference's API serves via rasterio,
    core/services.py:150-151) inside executor tasks with the pure-stdlib
    baseline TIFF reader (mapInPandas over the file list, one raster per
    task, no bytes through the driver), then zonal per-band mean /
    n_valid / n_cells. The oracle regenerates every slice from the
    analytic fixture laws — the cell-for-cell law↔bytes identity is
    pinned by tests/test_reference_rasters.py, so a gate green here
    means the raster bytes round-trip the whole engine."""
    from datetime import date as _date

    from skope_api_spark.sources.geotiff import geotiff_cells

    files = [
        (
            f"{_REF_DATA}/{ds}_{var}.tif",
            ds,
            var,
            res,
            _date(1, 1, 1),
        )
        for ds, var, res in _REF_RASTER_PAIRS
    ]
    cells = geotiff_cells(spark, files)
    return (
        cells.groupBy("dataset_id", "variable_id", "band")
        .agg(
            F.round(F.avg("value"), 4).alias("mean_value"),
            F.count("value").alias("n_valid"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .orderBy("dataset_id", "variable_id", "band")
    )
