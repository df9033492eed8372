"""Parquet-lake-backed cube provider for the API service.

``TimeseriesService.cube()`` defaults to regenerating the analytic dev
cube; production serves from the ingested Parquet lake
(``sources.cube.write_lake`` layout: partitioned by (dataset_id,
variable_id), each slice clustered by 16x16-cell tile, then (band, row,
col)). What prunes a request's scan, in order: the partition filters of
this provider's slice, so the scan lists one (dataset, variable)
directory; then the Parquet page indexes of that slice's file, which the
service's ``band BETWEEN`` and ``row``/``col`` predicates use to skip
every page outside the request's tiles and band range.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.plans.catalog import DatasetMeta


@dataclass
class LakeTimeseriesService(TimeseriesService):
    """Service variant reading the ingested cube lake instead of
    regenerating fixtures. ``lake_path`` is the ``ingest_to_parquet``
    output root.

    The lake is opened (``spark.read.parquet``) once per service, on its
    first request, and every later request plans against that DataFrame.
    Its file listing is therefore fixed when the lake is opened: a lake
    re-ingested after that needs a new service."""

    lake_path: str = ""
    _slices: dict[tuple[str, str], DataFrame] = field(
        default_factory=dict, init=False, repr=False
    )

    @cached_property
    def lake(self) -> DataFrame:
        if not self.lake_path:
            raise ValueError("LakeTimeseriesService requires lake_path")
        return self._spark_read()

    def cube(self, meta: DatasetMeta, variable_id: str) -> DataFrame:
        """The (dataset, variable) slice, built once per service like the
        lake it filters (a ``Column`` chain costs a py4j round trip per
        operator)."""
        key = (meta.dataset_id, variable_id)
        if key not in self._slices:
            self._slices[key] = self.lake.where(
                (F.col("dataset_id") == meta.dataset_id)
                & (F.col("variable_id") == variable_id)
            )
        return self._slices[key]

    def _spark_read(self) -> DataFrame:
        return self.spark.read.parquet(self.lake_path)


def lake_service(spark: SparkSession, lake_path: str) -> LakeTimeseriesService:
    return LakeTimeseriesService(spark=spark, lake_path=lake_path)
