"""HTTP-level façade: JSON in → (status_code, JSON out).

FastAPI is not installed in this environment, so the route layer is a
plain function with the reference's exact error contract
(422 validation/404-family → 422 with ``detail``; timeout → 504 with
``processing_time`` — reference ``main.py:48-63``). ``build_app()``
returns a real FastAPI app wrapping the same handlers when the library
is available.
"""

from __future__ import annotations

import json
from typing import Any

from pydantic import ValidationError

from skope_api_spark.api import models as M
from skope_api_spark.api.service import TimeseriesService, TimeseriesTimeoutError
from skope_api_spark.geometry import (
    InvalidGeometryError,
    SelectedAreaOutOfBoundsError,
    SelectedAreaPolygonIsTooLargeError,
)
from skope_api_spark.plans.catalog import DatasetNotFoundError
from skope_api_spark.plans.intervals import TimeRangeContainmentError

UNPROCESSABLE = (
    DatasetNotFoundError,
    TimeRangeContainmentError,
    SelectedAreaOutOfBoundsError,
    SelectedAreaPolygonIsTooLargeError,
    InvalidGeometryError,
)
HANDLED = (*UNPROCESSABLE, TimeseriesTimeoutError)


def error_response(ex: Exception, processing_time: int) -> tuple[int, dict[str, Any]]:
    """One of the ``HANDLED`` errors, or a payload's ``ValueError``, →
    (status, body), app-wide (reference ``main.py:48-63``): 504 with the
    request's ``processing_time`` budget for a timeout, else 422 with
    ``detail``."""
    if isinstance(ex, TimeseriesTimeoutError):
        return 504, {"detail": str(ex), "processing_time": processing_time}
    return 422, {"detail": [{"msg": str(ex), "type": type(ex).__name__}]}


def handle_timeseries_v2(
    service: TimeseriesService, payload: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    """POST /timeseries equivalent."""
    try:
        req = M.TimeseriesV2Request(**M.legacy_payload_to_v2(payload))
    except ValidationError as ex:
        return 422, {"detail": json.loads(ex.json())}
    except ValueError as ex:
        # legacy_payload_to_v2 conflicts (e.g. transforms + series options);
        # a 422 never reads the budget
        return error_response(ex, 0)
    try:
        resp = service.execute(req)
    except HANDLED as ex:
        return error_response(ex, req.max_processing_time)
    return 200, resp.model_dump(mode="json")


def handle_timeseries_v1(
    service: TimeseriesService, payload: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    """POST /v1/timeseries equivalent (legacy adapter)."""
    try:
        req = M.TimeseriesV1Request(**payload)
    except ValidationError as ex:
        return 422, {"detail": json.loads(ex.json())}
    try:
        return 200, service.execute_v1(req)
    except HANDLED as ex:
        # v1 requests run under the default budget (``M.v1_to_v2``)
        return error_response(ex, M.MAX_PROCESSING_TIME_MS)


def handle_metadata(service: TimeseriesService) -> tuple[int, list[dict]]:
    """GET /metadata equivalent."""
    return 200, service.metadata()


def handle_settings(service: TimeseriesService) -> tuple[int, dict[str, Any]]:
    """GET /settings equivalent (reference main.py:41-45, debug surface)."""
    return 200, {
        "max_cells": service.max_cells,
        "datasets": sorted(service.catalog.datasets),
        "spark": {
            "master": service.spark.sparkContext.master,
            "shuffle_partitions": service.spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "aqe": service.spark.conf.get("spark.sql.adaptive.enabled", "true"),
        },
    }


def build_app(service: TimeseriesService):
    """Real FastAPI app when the library is present (deployments)."""
    try:
        from fastapi import FastAPI
        from fastapi.responses import JSONResponse
    except ImportError as ex:  # pragma: no cover - env without fastapi
        raise RuntimeError("fastapi is not installed") from ex

    app = FastAPI(title="skope_api_spark")

    @app.post("/timeseries")
    def timeseries_v2(payload: dict):  # pragma: no cover - thin shim
        status, body = handle_timeseries_v2(service, payload)
        return JSONResponse(status_code=status, content=body)

    @app.post("/v1/timeseries")
    def timeseries_v1(payload: dict):  # pragma: no cover
        status, body = handle_timeseries_v1(service, payload)
        return JSONResponse(status_code=status, content=body)

    @app.get("/metadata")
    def metadata():  # pragma: no cover
        status, body = handle_metadata(service)
        return JSONResponse(status_code=status, content=body)

    @app.get("/settings")
    def settings():  # pragma: no cover
        status, body = handle_settings(service)
        return JSONResponse(status_code=status, content=body)

    return app
