"""Batched multi-query execution — the 100 TB shape of the SKOPE workload.

One extraction request touches ~KBs after pruning; a cluster-scale workload
is thousands of geometries × variables at once. Instead of one Spark job
per request (the reference's one-request-per-HTTP-call model), masks carry
a ``query_id`` column and join the cube ONCE: N requests = one scan + one
aggregation, grouped by ``(query_id, band)`` (SURVEY.md §4).

The combined mask is an inner broadcast join (not semi: a cell may belong
to several queries, and each membership must produce a row). Mask size is
Σ cells per query — still driver-tiny relative to the cube.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.operators.zonal import zonal_series
from skope_api_spark.session import local_frame


def batch_mask_df(
    spark: SparkSession, masks: Mapping[str, Sequence[tuple[int, int]]]
) -> DataFrame:
    rows = [(qid, r, c) for qid, cells in masks.items() for (r, c) in cells]
    return local_frame(spark, rows, "query_id string, row int, col int")


def batched_zonal_series(
    cube: DataFrame,
    masks: Mapping[str, Sequence[tuple[int, int]]],
    stat: str = "mean",
    *,
    series_keys: Sequence[str] = ("band", "time"),
) -> DataFrame:
    """All queries' zonal series in one job: (query_id, *series_keys,
    value, n_cells, n_valid)."""
    mask = batch_mask_df(cube.sparkSession, masks)
    tagged = cube.join(F.broadcast(mask), ["row", "col"])  # inner, fan-out
    return zonal_series(tagged, stat, keys=("query_id", *series_keys))
