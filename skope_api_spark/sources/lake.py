"""Parquet-lake-backed cube provider for the API service.

``TimeseriesService.cube()`` defaults to regenerating the analytic dev
cube; production serves from the ingested Parquet lake
(``sources.cube.ingest_to_parquet`` layout: partitioned by
(dataset_id, variable_id), sorted by (band, row, col)). This provider
pins a slice with partition-pruning predicates, so every request's scan
reads exactly one (dataset, variable) partition and the ``band BETWEEN``
filter prunes row groups inside it.
"""

from __future__ import annotations

from dataclasses import dataclass
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

    @cached_property
    def lake(self) -> DataFrame:
        if not self.lake_path:
            raise ValueError("LakeTimeseriesService requires lake_path")
        return self._spark_read()

    def cube(self, meta: DatasetMeta, variable_id: str) -> DataFrame:
        return self.lake.where(
            (F.col("dataset_id") == meta.dataset_id)
            & (F.col("variable_id") == variable_id)
        )

    def _spark_read(self) -> DataFrame:
        return self.spark.read.parquet(self.lake_path)


def lake_service(spark: SparkSession, lake_path: str) -> LakeTimeseriesService:
    return LakeTimeseriesService(spark=spark, lake_path=lake_path)
