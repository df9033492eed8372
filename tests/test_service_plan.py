"""Request plan shape: one Spark aggregation and one collect per request
(and per batched group, over one broadcast mask), and the layer entry
points the traced benchmark (``perfbench/spans.py``) wraps stay module
globals of ``api/service.py``."""

from __future__ import annotations

import re
from datetime import date

import pytest

from skope_api_spark.api import models as M
from skope_api_spark.api import service as service_mod
from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.sources.cube import ingest_to_parquet
from skope_api_spark.sources.lake import lake_service

POINT = {"type": "Point", "coordinates": [-120.0, 42.5]}
SQUARE = {
    "type": "Polygon",
    "coordinates": [
        [[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1], [-121.9, 42.1], [-121.9, 43.9]]
    ],
}
SMOOTHERS = [
    M.SeriesOptions(name="raw", smoother=M.NoSmoother()),
    M.SeriesOptions(name="cma", smoother=M.MovingAverageSmoother(method="centered", width=3)),
    M.SeriesOptions(name="tma", smoother=M.MovingAverageSmoother(method="trailing", width=2)),
]
REQUESTS = {
    "point": dict(selected_area=POINT),
    "polygon_rolling_z": dict(
        selected_area=SQUARE,
        transform=M.ZScoreMovingInterval(width=2),
        requested_series_options=SMOOTHERS,
    ),
    "polygon_reference_z": dict(
        selected_area=SQUARE,
        time_range=M.OptionalTimeRangeModel(gte=date(4, 1, 1), lte=date(5, 1, 1)),
        transform=M.ZScoreFixedInterval(
            time_range=M.TimeRangeModel(gte=date(1, 1, 1), lte=date(2, 1, 1))
        ),
        requested_series_options=SMOOTHERS,
    ),
}
TRACED_LAYERS = ("collect_with_timeout", "rasterize_all_touched", "mask_df", "zonal_series")


@pytest.fixture(scope="module")
def service(spark):
    return TimeseriesService(spark)


@pytest.fixture(scope="module")
def lake_svc(spark, tmp_path_factory):
    """A Parquet-lake service: its cube is a plain file scan, so every
    exchange in a request's plan is the service's own."""
    path = str(tmp_path_factory.mktemp("plan_lake") / "cube")
    ingest_to_parquet(spark, path)
    return lake_service(spark, path)


def _req(**kw) -> M.TimeseriesV2Request:
    return M.TimeseriesV2Request(
        dataset_id="annual_5x5x5_dataset", variable_id="float32_variable", **kw
    )


def _plan_nodes(df) -> set[str]:
    """Operator names of the optimized logical and the physical plan."""
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + "\n" + qe.executedPlan().toString()
    return {m.group(1) for m in re.finditer(r"^[\s:+\-|]*([A-Za-z]+)", text, re.M)}


def _spy_collects(monkeypatch) -> list:
    """The list every DataFrame handed to ``collect_with_timeout`` goes to."""
    collected = []
    real = service_mod.collect_with_timeout

    def spy(spark, df, timeout_ms):
        collected.append(df)
        return real(spark, df, timeout_ms)

    monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
    return collected


def _broadcasts(df) -> int:
    """BroadcastExchange nodes of the physical plan (the initial one, when
    adaptive execution has re-planned it into query stages)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.split("== Initial Plan ==")[-1].count("BroadcastExchange")


@pytest.mark.parametrize("name", sorted(REQUESTS))
def test_one_collect_of_one_aggregation(service, monkeypatch, name):
    collected = _spy_collects(monkeypatch)
    resp = service.execute(_req(**REQUESTS[name]))
    assert resp.series and resp.series[0].values
    assert len(collected) == 1
    nodes = _plan_nodes(collected[0])
    assert "Aggregate" in nodes or "HashAggregate" in nodes
    assert not nodes & {"Window", "Sort", "Union", "InMemoryRelation", "InMemoryTableScan"}


def test_batched_group_is_one_aggregation_over_one_broadcast(lake_svc, monkeypatch):
    reqs = [_req(**REQUESTS["point"]), _req(**REQUESTS["polygon_rolling_z"])]
    collected = _spy_collects(monkeypatch)
    assert [r.n_cells for r in lake_svc.execute_many(reqs)] == [1, 4]
    assert len(collected) == 1
    (df,) = collected
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^[\s:+\-|]*Aggregate ", optimized, re.M)) == 1
    assert _broadcasts(df) == 1
    assert not _plan_nodes(df) & {"Window", "Sort", "Union", "InMemoryRelation", "InMemoryTableScan"}


def test_lone_point_has_no_broadcast(lake_svc, monkeypatch):
    collected = _spy_collects(monkeypatch)
    lake_svc.execute(_req(**REQUESTS["point"]))
    (df,) = collected
    assert _broadcasts(df) == 0


def test_uncertainty_reuses_the_selection(service, monkeypatch):
    calls = []
    real = service_mod.rasterize_all_touched

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(service_mod, "rasterize_all_touched", spy)
    resp = service.execute(_req(selected_area=SQUARE, include_uncertainty=True))
    assert resp.uncertainty is not None and len(resp.uncertainty.values) == 5
    assert len(calls) == 1


def test_perfbench_tracer_wraps_the_service_layers(service):
    from perfbench.spans import Tracer

    originals = {n: getattr(service_mod, n) for n in TRACED_LAYERS}
    execute = TimeseriesService.execute
    tracer = Tracer()
    tracer.op = 0
    tracer.install()
    try:
        assert all(getattr(service_mod, n) is not f for n, f in originals.items())
        service.execute(_req(**REQUESTS["polygon_rolling_z"]))
    finally:
        tracer.uninstall()
    assert all(getattr(service_mod, n) is f for n, f in originals.items())
    assert TimeseriesService.execute is execute

    layers = tracer.per_op(0)
    for span in ("service.execute", "service.collect", "geometry.rasterize",
                 "geometry.mask_df", "operators.zonal_series"):
        assert layers.get(span, 0) > 0, span
    assert layers["service.collects"] == 1
    assert layers["geometry.cells"] == 4
