"""The Parquet lake as the API service's cube table.

Production serves from the ingested lake (``sources.cube.write_lake``
layout: partitioned by (dataset_id, variable_id, tile), one file per
16x16-cell tile, sorted by (band, row, col)). What prunes a request's
scan, in order: the partition filters of the service's slice
(``TimeseriesService.cube``, a directory per variable) and
``zonal_picks``'s ``tile IN (...)``, so the scan lists only the files of
the request's tiles; then the Parquet page indexes of those files, which
skip every page outside the request's band intervals: ``zonal_picks``
hands the reader its ``band IN`` sets as ``In(band, ...)``, each bounded
by its least and greatest band.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from skope_api_spark.api.service import TimeseriesService


def lake_service(spark: SparkSession, path: str) -> TimeseriesService:
    """A service over the ``ingest_to_parquet`` output at ``path``,
    opened once, here."""
    return TimeseriesService(spark, spark.read.parquet(path))
