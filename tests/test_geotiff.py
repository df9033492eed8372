"""GeoTIFF ETL seam: Spark-side plumbing tested with a fake reader (the
rasterio decode itself is environment-gated — see sources/geotiff.py)."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from skope_api_spark.sources.cube import cell_area_m2
from skope_api_spark.sources.geotiff import (
    _add_months,
    _read_with_rasterio,
    geotiff_cells,
    ingest_geotiff,
)

# 3x3 grid, top-left (-123, 45), 1.0 deg pixels; band 2 has a nodata hole
_TRANSFORM = (1.0, -123.0, -1.0, 45.0)


def make_fake_reader(shape=(3, 3)):
    """Return a CLOSURE (cloudpickle ships it by value — a module-level
    function in a test file is not importable on executors)."""

    def fake_reader(path: str):
        import numpy as np

        for b in range(1, 3):
            data = np.fromfunction(
                lambda r, c: b * 100.0 + r * 10 + c, shape, dtype=float
            )
            if b == 2:
                data[1, 2] = np.nan  # masked/nodata cell
            yield b, data, (1.0, -123.0, -1.0, 45.0)

    return fake_reader


FILES = [
    ("/fake/annual.tif", "ds", "var", "year", dt.date(1, 1, 1)),
]


class TestGeotiffCells:
    def test_long_rows_with_nodata_null_and_ancient_dates(self, spark):
        out = geotiff_cells(spark, FILES, reader=make_fake_reader())
        rows = {(r.band, r.row, r.col): r for r in out.collect()}
        assert len(rows) == 2 * 3 * 3
        # values follow the rule; the nodata cell is NULL (P4)
        assert rows[(1, 0, 0)].value == 100.0
        assert rows[(2, 1, 2)].value is None
        # annual bands advance the year-1 start date by whole years
        assert rows[(1, 0, 0)].time == dt.date(1, 1, 1)
        assert rows[(2, 0, 0)].time == dt.date(2, 1, 1)
        # coordinates + exact ellipsoidal area match the ingest formula
        r = rows[(1, 2, 1)]
        assert r.lon == pytest.approx(-123.0 + 1 + 0.5)
        assert r.lat == pytest.approx(45.0 - 2 - 0.5)
        assert r.cell_area == pytest.approx(cell_area_m2(45.0 - 2, 1.0), rel=1e-12)

    def test_ingest_roundtrip_partitioned(self, spark, tmp_path):
        path = str(tmp_path / "tiff_lake")
        ingest_geotiff(spark, FILES, path, reader=make_fake_reader())
        back = spark.read.parquet(path)
        assert back.count() == 18
        assert back.where(F.col("value").isNull()).count() == 1
        # partition layout matches the S1 contract (dataset_id/variable_id)
        assert (tmp_path / "tiff_lake" / "dataset_id=ds" / "variable_id=var").exists()

    def test_ingest_writes_the_tile_clustered_lake_layout(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from skope_api_spark.sources.cube import TILE_CELLS, tile_of

        n = 2 * TILE_CELLS + 3  # 3x3 tiles, the last ones partial
        ingest_geotiff(spark, FILES, str(tmp_path), reader=make_fake_reader((n, n)))
        tiles = sorted((tmp_path / "dataset_id=ds" / "variable_id=var").glob("tile=*"))
        assert len(tiles) == 9
        total = 0
        for d in tiles:
            (f,) = d.glob("*.parquet")
            t = pq.read_table(f, columns=["band", "row", "col"])
            b, r, c = (t[k].to_numpy() for k in ("band", "row", "col"))
            # exactly its tile's cells, each in both bands
            cells = set(zip(r.tolist(), c.tolist()))
            assert {tile_of(*rc) for rc in cells} == {int(d.name.removeprefix("tile="))}
            assert len(b) == 2 * len(cells)
            assert (np.lexsort((c, r, b)) == np.arange(len(b))).all()
            total += len(cells)
        assert total == n * n

    def test_rasterio_guard_raises_helpfully(self):
        if "rasterio" in __import__("sys").modules:
            pytest.skip("rasterio installed; guard not reachable")
        with pytest.raises(ImportError, match="rasterio"):
            list(_read_with_rasterio("/nonexistent.tif"))


class TestNonSquarePixels:
    def test_area_uses_lon_width_for_dlambda(self, spark):
        """0.5°×1.0° pixels: Δλ must come from the pixel WIDTH (0.5°), the
        latitude band from the height (1.0°) — using the height for both
        doubled every area."""

        def make_rect_reader():
            def rect_reader(path):
                import numpy as np

                yield 1, np.zeros((2, 2)), (0.5, -10.0, -1.0, 40.0)

            return rect_reader

        files = [("/fake/rect.tif", "ds", "var", "year", dt.date(2000, 1, 1))]
        rows = {
            (r.row, r.col): r
            for r in geotiff_cells(spark, files, reader=make_rect_reader()).collect()
        }
        r = rows[(1, 1)]
        assert r.lon == pytest.approx(-10.0 + 1 * 0.5 + 0.25)
        assert r.lat == pytest.approx(40.0 - 1 - 0.5)
        # half the area of a 1°-wide cell in the same latitude band
        assert r.cell_area == pytest.approx(
            cell_area_m2(40.0 - 1, 1.0) / 2, rel=1e-9
        )


class TestMonthArithmetic:
    def test_add_months_handles_year_one(self):
        assert _add_months(dt.date(1, 1, 1), 0) == dt.date(1, 1, 1)
        assert _add_months(dt.date(1, 1, 1), 13) == dt.date(2, 2, 1)
        assert _add_months(dt.date(1, 11, 1), 2) == dt.date(2, 1, 1)
        assert _add_months(dt.date(1, 1, 1), 12 * math.floor(4)) == dt.date(5, 1, 1)

    def test_add_months_clamps_day_to_month_length(self):
        assert _add_months(dt.date(2000, 1, 31), 1) == dt.date(2000, 2, 29)
        assert _add_months(dt.date(1999, 1, 31), 1) == dt.date(1999, 2, 28)
        assert _add_months(dt.date(2000, 3, 31), 1) == dt.date(2000, 4, 30)


class TestGeoTiffHeaderSniff:
    """The per-band GeoTIFF headers (contract mm_geotiff_header_sniff)
    must parse under the multimodal sniffer's wild-file rules in both
    legal TIFF encodings, with the GeoKeyDirectoryTag skipped."""

    def test_even_band_little_endian_short(self):
        from skope_api_spark.operators.multimodal import _sniff_image
        from skope_api_spark.sources.geotiff import geotiff_band_header

        assert _sniff_image(geotiff_band_header(5, 5, 0)) == ("tiff", 5, 5)

    def test_odd_band_big_endian_long(self):
        from skope_api_spark.operators.multimodal import _sniff_image
        from skope_api_spark.sources.geotiff import geotiff_band_header

        data = geotiff_band_header(115, 50, 7)  # lbda_v2 CONUS shape
        assert data[:4] == b"MM\x00*"
        assert _sniff_image(data) == ("tiff", 115, 50)
