from __future__ import annotations

import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from skope_api_spark.session import get_spark

    # warehouse dir is a static conf — point it at a tmpdir at session build
    # so bucketed-table tests don't write into the repo
    wh = tempfile.mkdtemp(prefix="spark_wh_")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    _warmup(s)
    yield s
    s.stop()


def _warmup(s) -> None:
    """Pay the per-JVM one-time costs (scheduler spin-up, whole-stage
    codegen JIT for the window/union/sort/cache shapes the suite uses)
    BEFORE any timed request runs. On a slow or contended host the very
    first Spark job can take 10-30 s; without this, tests that exercise
    the service's 15 s request budget (reference config.py:32) flake on
    startup cost that is not part of any request's processing time."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = s.range(0, 64).select(
        F.col("id").cast("int").alias("band"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    w = Window.orderBy("band").rowsBetween(-2, 2)
    out = (
        df.withColumn("m", F.avg("value").over(w))
        .unionByName(df.withColumn("m", F.lit(0.0)))
        .orderBy("band", "m")
        .cache()
    )
    out.collect()
    out.unpersist()


@pytest.fixture(scope="session")
def dev_service(spark):
    """The dev service: ``TimeseriesService`` over ``full_dev_cube``.

    Its one UNTIMED request (max_processing_time=0 → no deadline),
    mirroring the reference's app-startup ingest, pays the first
    request's cube-plan codegen (~16 s on a freshly booted host) before
    any timed request runs: that cost exceeded the 15 s request budget
    (reference config.py:32) and flaked whichever service module ran
    first."""
    from skope_api_spark.api import models as M
    from skope_api_spark.api.service import TimeseriesService
    from skope_api_spark.sources.cube import full_dev_cube

    svc = TimeseriesService(spark, full_dev_cube(spark))
    svc.execute(
        M.TimeseriesV2Request(
            dataset_id="annual_5x5x5_dataset",
            variable_id="float32_variable",
            selected_area={"type": "Point", "coordinates": [-123.0, 45.0]},
            max_processing_time=0,
        )
    )
    return svc
