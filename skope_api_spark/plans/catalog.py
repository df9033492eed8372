"""Dataset catalog — the metadata layer (reference S5).

The reference loads two YAML files (slim extraction metadata and rich API
metadata, reference ``timeseries/app/schemas/dataset.py:125-157``). Here the
catalog is a plain dataclass registry, and the dev catalog ``DEV_CATALOG``
(mirroring ``deploy/metadata/dev.yml:1-16``, on the 5×5 dev grid that
``DatasetMeta``'s grid fields default to) ships as a constant, so the
service, tests and the analytic fixtures need no files.

As a Spark-side dimension: ``catalog_df`` returns the catalog as a (tiny)
DataFrame for broadcast joins when queries batch over many datasets
(``skope_catalog_metadata_join``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date

from skope_api_spark.plans.intervals import MONTH, YEAR, TimeRange


class DatasetNotFoundError(KeyError):
    """Unknown dataset or variable id (reference dataset.py:94-122 → 422)."""


@dataclass(frozen=True)
class DatasetMeta:
    dataset_id: str
    resolution: str  # "year" | "month"
    time_range: TimeRange
    variables: tuple[str, ...]
    grid_rows: int = 5
    grid_cols: int = 5
    # top-left corner + pixel size in degrees (dev fixtures: (-123, 45),
    # 1.0° — FIXTURES.md §1). Rectangular-pixel rasters (lon≠lat
    # resolution) set pixel_deg_lon/lat; None = square (pixel_deg).
    origin_lon: float = -123.0
    origin_lat: float = 45.0
    pixel_deg: float = 1.0
    pixel_deg_lon: float | None = None
    pixel_deg_lat: float | None = None

    def n_bands(self) -> int:
        steps = (
            (self.time_range.lte.year - self.time_range.gte.year) * 12
            + (self.time_range.lte.month - self.time_range.gte.month)
            if self.resolution == MONTH
            else self.time_range.lte.year - self.time_range.gte.year
        )
        return steps + 1


DEV_CATALOG: dict[str, DatasetMeta] = {
    "annual_5x5x5_dataset": DatasetMeta(
        dataset_id="annual_5x5x5_dataset",
        resolution=YEAR,
        time_range=TimeRange(date(1, 1, 1), date(5, 1, 1)),
        variables=("float32_variable", "uint16_variable"),
    ),
    "monthly_5x5x60_dataset": DatasetMeta(
        dataset_id="monthly_5x5x60_dataset",
        resolution=MONTH,
        time_range=TimeRange(date(1, 1, 1), date(5, 12, 1)),
        variables=("float32_variable", "int16_variable"),
    ),
}


@dataclass
class Catalog:
    datasets: dict[str, DatasetMeta] = field(default_factory=lambda: dict(DEV_CATALOG))

    def variable(self, dataset_id: str, variable_id: str) -> DatasetMeta:
        """J2 — metadata lookup; unknown ids raise (→ 422 at the API edge)."""
        meta = self.datasets.get(dataset_id)
        if meta is None:
            raise DatasetNotFoundError(f"no such dataset {dataset_id!r}")
        if variable_id not in meta.variables:
            raise DatasetNotFoundError(
                f"no variable {variable_id!r} in dataset {dataset_id!r}"
            )
        return meta


def catalog_df(spark, catalog: Catalog | None = None):
    """The catalog as a broadcastable dimension DataFrame."""
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import (
        DateType,
        StringType,
        StructField,
        StructType,
    )

    cat = catalog or Catalog()
    rows = [
        (m.dataset_id, v, m.resolution, m.time_range.gte, m.time_range.lte)
        for m in cat.datasets.values()
        for v in m.variables
    ]
    schema = StructType(
        [
            StructField("dataset_id", StringType()),
            StructField("variable_id", StringType()),
            StructField("resolution", StringType()),
            StructField("time_gte", DateType()),
            StructField("time_lte", DateType()),
        ]
    )
    return spark.createDataFrame(rows, schema)
