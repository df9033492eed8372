"""The dev rasters, decoded and ingested end-to-end.

The five GeoTIFFs under ``skope_api_spark/data/`` are written from the
FIXTURES.md §1 laws and nodata sentinels by
``sources.geotiff.write_baseline_tiff``; in r12 those laws were proven
equal, cell for cell, to the reference's shipped raster bytes. This suite
decodes them with the pure-stdlib baseline TIFF reader
(``sources/geotiff.py:read_baseline_tiff``), asserts the laws and the
nodata holes survive the sentinel round trip, and proves the synthetic
``analytic_cube`` is cell-for-cell identical to a full ``ingest_geotiff``
run over the rasters — the same files ``skope_reference_raster_zonal``
serves through the correctness gate.

The r12 parity fix the reference's bytes surfaced: the uint16 raster
carries GDAL_NODATA 65535 sentinels at (3,4) (all bands) and (2,4)
(band 3) — the same holes as float32 — which earlier FIXTURES.md
revisions recorded as "none".
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from skope_api_spark.contract.skope import _REF_DATA as DATA
from skope_api_spark.sources.geotiff import ingest_geotiff, read_baseline_tiff

# (file stem, dataset_id, variable_id, resolution, n_bands, f32, null cells)
RASTERS = [
    ("annual_5x5x5_dataset_float32_variable", "annual_5x5x5_dataset",
     "float32_variable", "year", 5, True, "f32holes"),
    ("annual_5x5x5_dataset_uint16_variable", "annual_5x5x5_dataset",
     "uint16_variable", "year", 5, False, "f32holes"),
    ("annual_5x5x5_dataset_float32_variable_uncertainty",
     "annual_5x5x5_dataset", "float32_variable_uncertainty", "year", 5,
     True, "none"),
    ("monthly_5x5x60_dataset_float32_variable", "monthly_5x5x60_dataset",
     "float32_variable", "month", 60, True, "col34"),
    ("monthly_5x5x60_dataset_int16_variable", "monthly_5x5x60_dataset",
     "int16_variable", "month", 60, False, "none"),
]

def _is_null(kind: str, b: int, r: int, c: int) -> bool:
    if kind == "f32holes":
        return (r == 3 and c == 4) or (b == 3 and r == 2 and c == 4)
    if kind == "col34":
        return r == 3 and c == 4
    return False


def _law(variable_id: str, b: int, r: int, c: int) -> float:
    if variable_id == "float32_variable_uncertainty":
        return float(np.float32(b * 10 + r + c * 0.1))
    if variable_id == "float32_variable":
        return float(np.float32(b * 100 + r * 10 + c * 1.1))
    return float(b * 100 + r * 10 + c)


class TestBaselineDecoder:
    @pytest.mark.parametrize(
        "stem,dataset_id,variable_id,resolution,n_bands,f32,nulls",
        RASTERS,
        ids=[r[0] for r in RASTERS],
    )
    def test_dev_raster_obeys_fixture_law(
        self, stem, dataset_id, variable_id, resolution, n_bands, f32, nulls
    ):
        with open(f"{DATA}/{stem}.tif", "rb") as fh:
            bands = list(read_baseline_tiff(fh.read()))
        assert len(bands) == n_bands
        for b, arr, (px_w, origin_lon, px_h, origin_lat) in bands:
            assert arr.shape == (5, 5)
            assert (px_w, origin_lon, px_h, origin_lat) == (1.0, -123.0, -1.0, 45.0)
            for r in range(5):
                for c in range(5):
                    if _is_null(nulls, b, r, c):
                        assert math.isnan(arr[r, c]), (stem, b, r, c)
                    else:
                        assert arr[r, c] == _law(variable_id, b, r, c), (
                            stem, b, r, c,
                        )

    def test_unsupported_variants_raise(self):
        with open(f"{DATA}/{RASTERS[0][0]}.tif", "rb") as fh:
            data = bytearray(fh.read())
        with pytest.raises(ValueError, match="not a TIFF"):
            list(read_baseline_tiff(b"\x89PNG" + bytes(data[4:])))
        # flip Compression (tag 259) to 5 (LZW) — needs rasterio
        lzw = bytearray(data)
        # find the IFD entry for tag 259 and overwrite its inline value
        import struct

        off = struct.unpack("<I", bytes(lzw[4:8]))[0]
        n = struct.unpack("<H", bytes(lzw[off : off + 2]))[0]
        for i in range(n):
            e = off + 2 + 12 * i
            if struct.unpack("<H", bytes(lzw[e : e + 2]))[0] == 259:
                lzw[e + 8 : e + 10] = struct.pack("<H", 5)
        with pytest.raises(ValueError, match="compressed"):
            list(read_baseline_tiff(bytes(lzw)))


class TestIngestDevRasters:
    def test_ingest_matches_analytic_cube_cell_for_cell(self, spark, tmp_path):
        """Full ETL over the dev rasters through the DEFAULT reader
        (stdlib baseline fallback when rasterio is absent), then an exact
        anti-join comparison against the synthetic analytic cube: zero
        rows differ in either direction."""
        from skope_api_spark.sources.cube import full_dev_cube

        files = [
            (f"{DATA}/{stem}.tif", ds, var, res, dt.date(1, 1, 1))
            for stem, ds, var, res, _, _, _ in RASTERS
        ]
        path = str(tmp_path / "dev_lake")
        ingest_geotiff(spark, files, path)
        ingested = spark.read.parquet(path)

        n_expected = (3 * 5 + 2 * 60) * 25
        assert ingested.count() == n_expected

        # value/lat/lon/area are doubles computed by two different code
        # paths (numpy vs Spark SQL) — round to a comparable grain before
        # the exact set comparison
        def canon(df):
            return df.select(
                "dataset_id",
                "variable_id",
                "band",
                F.date_format("time", "yyyy-MM-dd").alias("time"),
                "row",
                "col",
                F.round("lon", 9).alias("lon"),
                F.round("lat", 9).alias("lat"),
                F.round(F.col("cell_area") / 1e6, 6).alias("area_km2"),
                F.round("value", 6).alias("value"),
            )

        synthetic = canon(full_dev_cube(spark))
        decoded = canon(ingested)
        only_decoded = decoded.exceptAll(synthetic).count()
        only_synth = synthetic.exceptAll(decoded).count()
        assert (only_decoded, only_synth) == (0, 0)
