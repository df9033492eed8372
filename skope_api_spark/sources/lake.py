"""The Parquet lake as the API service's cube table.

Production serves from the ingested lake (``sources.cube.write_lake``
layout: partitioned by (dataset_id, variable_id), each slice clustered
by 16x16-cell tile, then (band, row, col)). What prunes a request's
scan, in order: the partition filters of the service's slice
(``TimeseriesService.cube``), so the scan lists one (dataset, variable)
directory; then the Parquet page indexes of that slice's file, which the
service's ``band BETWEEN`` and ``row``/``col`` predicates use to skip
every page outside the request's tiles and band range.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from skope_api_spark.api.service import TimeseriesService


def lake_service(spark: SparkSession, path: str) -> TimeseriesService:
    """A service over the ``ingest_to_parquet`` output at ``path``,
    opened once, here."""
    return TimeseriesService(spark, spark.read.parquet(path))
