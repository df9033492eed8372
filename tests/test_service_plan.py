"""Request plan shape: one Spark aggregation and one collect per request
(and per batched group, over one broadcast mask), one Spark job for a
lone polygon, and the layer entry points the traced benchmark
(``perfbench/spans.py``) wraps stay module globals of
``api/service.py``."""

from __future__ import annotations

import re
import uuid
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
    "point_uncertainty": dict(selected_area=POINT, include_uncertainty=True),
    "polygon_uncertainty": dict(selected_area=SQUARE, include_uncertainty=True),
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
def service(dev_service):
    return dev_service


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
def test_one_collect_of_one_aggregation(service, lake_svc, monkeypatch, name):
    """One collect per request, its uncertainty series included, of one
    selection (a polygon is rasterized once): of one aggregation for a
    polygon, and of a bare projection for a lone point (on the lake, with
    no exchange; the analytic cube's own cross joins broadcast)."""
    req = _req(**REQUESTS[name])
    rasterized = []
    real = service_mod.rasterize_all_touched

    def spy(*a, **kw):
        rasterized.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(service_mod, "rasterize_all_touched", spy)
    for svc in (service, lake_svc):
        collected = _spy_collects(monkeypatch)
        rasterized.clear()
        resp = svc.execute(req)
        assert resp.series and resp.series[0].values
        assert len(collected) == 1
        assert len(rasterized) == (0 if name.startswith("point") else 1)
        if req.include_uncertainty:
            assert len(resp.uncertainty.values) == 5
        nodes = _plan_nodes(collected[0])
        if svc is service and req.include_uncertainty:
            # the dev cube unions one generator per slice: two variables
            # are two of its branches, none of them the service's own
            nodes.discard("Union")
        assert not nodes & {"Window", "Sort", "Union", "InMemoryRelation", "InMemoryTableScan"}
        if not name.startswith("point"):
            assert "Aggregate" in nodes or "HashAggregate" in nodes
            continue
        qe = collected[0]._jdf.queryExecution()
        assert "Aggregate" not in qe.optimizedPlan().toString() + qe.executedPlan().toString()
        if svc is lake_svc:
            assert "Exchange" not in qe.executedPlan().toString()


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
        # a batch of two picks selects its cells with the mask
        tracer.op = 1
        service.execute_many([_req(**REQUESTS["polygon_rolling_z"]), _req(**REQUESTS["point"])])
    finally:
        tracer.uninstall()
    assert all(getattr(service_mod, n) is f for n, f in originals.items())
    assert TimeseriesService.execute is execute

    layers = tracer.per_op(0)
    for span in ("service.execute", "service.collect", "geometry.rasterize",
                 "operators.zonal_series"):
        assert layers.get(span, 0) > 0, span
    assert layers["service.collects"] == 1
    assert layers["geometry.cells"] == 4
    assert tracer.per_op(1).get("geometry.mask_df", 0) > 0


def _jobs(spark, run) -> int:
    """The Spark jobs ``run()`` submits, counted by a job group of its own."""
    sc = spark.sparkContext
    group = f"plan-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "plan test")
    try:
        run()
    finally:
        sc.setJobGroup("", "", False)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lone_polygon_is_one_job_with_no_exchange(spark, lake_svc, monkeypatch):
    """A lone polygon within ``ONE_TASK_CELLS`` and ``ONE_TASK_ROWS``
    selects its cells with a predicate and aggregates them in the scan's
    one task: no broadcast, no exchange, one Spark job. With either bound
    at 0 the same polygon plans the broadcast mask join and one
    aggregation exchange."""
    polygon = _req(selected_area=SQUARE, max_processing_time=0)
    collected = _spy_collects(monkeypatch)
    assert _jobs(spark, lambda: lake_svc.execute(polygon)) == 1
    plan = collected[-1]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    for unc in (False, True):  # a point, and a point with its uncertainty
        point = _req(selected_area=POINT, max_processing_time=0, include_uncertainty=unc)
        assert _jobs(spark, lambda: lake_svc.execute(point)) == 1
        qe = collected[-1]._jdf.queryExecution()
        assert "Aggregate" not in qe.optimizedPlan().toString() + qe.executedPlan().toString()
        assert _broadcasts(collected[-1]) == 0

    for bound in ("ONE_TASK_CELLS", "ONE_TASK_ROWS"):
        with monkeypatch.context() as patched:
            patched.setattr(service_mod, bound, 0)
            lake_svc.execute(polygon)
        initial = collected[-1]._jdf.queryExecution().executedPlan().toString()
        initial = initial.split("== Initial Plan ==")[-1]
        assert _broadcasts(collected[-1]) == 1, bound
        assert initial.count("Exchange hashpartitioning") == 1, bound


# covers the annual NULL hole at (2, 4): cells (1, 3), (1, 4), (2, 3), (2, 4)
HOLE_SQUARE = {
    "type": "Polygon",
    "coordinates": [
        [[-119.9, 43.9], [-118.1, 43.9], [-118.1, 42.1], [-119.9, 42.1], [-119.9, 43.9]]
    ],
}


@pytest.mark.parametrize("stat", ["mean", "median"])
@pytest.mark.parametrize("lake", ["dev", "parquet"])
def test_lone_polygon_plans_agree(service, lake_svc, monkeypatch, lake, stat):
    """A lone polygon's rows, NULL band included, are exactly those of the
    broadcast-join plan (bound 0) and of the same pick batched next to
    another; so are its series and its uncertainty series."""
    svc = service if lake == "dev" else lake_svc
    req = _req(selected_area=HOLE_SQUARE, zonal_statistic=stat, include_uncertainty=True)
    meta = svc.catalog.variable(req.dataset_id, req.variable_id)
    plan = svc._plan(req, meta)
    assert (2, 4) in plan.cells and len(plan.cells) == 4
    cube = svc.cube(meta, req.variable_id)
    pick = (plan.cells, plan.bands())

    def rows(picks) -> list[tuple]:
        out = service_mod.zonal_picks(cube, stat, picks).where("query_id = 0")
        return sorted((r.band, r.value, r.n_cells, r.n_valid) for r in out.collect())

    def answer() -> tuple:
        resp = svc.execute(req)
        return resp.series[0].values, resp.uncertainty.values

    alone, alone_answer = rows([pick]), answer()
    assert [n_valid for *_, n_valid in alone] == [4, 4, 3, 4, 4]  # the hole at band 3
    batched = rows([pick, ([(0, 0)], plan.bands())])
    neighbour = _req(selected_area=SQUARE, zonal_statistic=stat, include_uncertainty=True)
    batched_answer = svc.execute_many([req, neighbour])[0]
    monkeypatch.setattr(service_mod, "ONE_TASK_ROWS", 0)
    assert rows([pick]) == alone == batched
    assert answer() == alone_answer
    assert (batched_answer.series[0].values, batched_answer.uncertainty.values) == alone_answer


LONE_CELLS = [  # (dataset, variable, (row, col)): holes give NULL bands
    ("annual_5x5x5_dataset", "float32_variable", (2, 4)),
    ("annual_5x5x5_dataset", "uint16_variable", (2, 4)),
    ("monthly_5x5x60_dataset", "int16_variable", (1, 3)),
]


def _cell_point(meta, r, c) -> dict:
    return {"type": "Point", "coordinates": [
        meta.origin_lon + (c + 0.5) * meta.pixel_deg,
        meta.origin_lat - (r + 0.5) * meta.pixel_deg,
    ]}


@pytest.mark.parametrize("stat", ["mean", "median"])
@pytest.mark.parametrize("dataset_id, variable_id, cell", LONE_CELLS)
def test_lone_cell_series_is_its_zonal_series(lake_svc, dataset_id, variable_id, cell, stat):
    """A one-cell pick's projected value equals ``zonal_series`` over the
    same selection exactly, NULLs included: alone, in an all-point batch
    (projected) and next to a polygon (aggregated). So do its projected
    ``n_cells`` and ``n_valid``. A neighbour that does not ask for the
    uncertainty series gets none, and its answer alone, when batched next
    to one that does."""
    from skope_api_spark.operators.zonal import zonal_series
    from skope_api_spark.plans.intervals import BandRange

    meta = lake_svc.catalog.variable(dataset_id, variable_id)
    (r, c), bands = cell, meta.n_bands()
    cube = lake_svc.cube(meta, variable_id)
    counts = zonal_series(cube.where(f"row = {r} AND col = {c}"), stat).orderBy("band")
    counts = [(row.value, row.n_cells, row.n_valid) for row in counts.collect()]
    for picks in ([[(r, c)]], [[(0, 0)], [(r, c)]]):  # alone, all-point batch
        picked = service_mod.zonal_picks(
            cube, stat, [(cells, [BandRange(1, bands)]) for cells in picks]
        ).where(f"query_id = {len(picks) - 1}").orderBy("band")
        assert "Aggregate" not in picked._jdf.queryExecution().optimizedPlan().toString()
        assert [(row.value, row.n_cells, row.n_valid) for row in picked.collect()] == counts

    def expected(variable):
        cells = lake_svc.cube(meta, variable).where(f"row = {r} AND col = {c}")
        rows = zonal_series(cells, stat).orderBy("band").collect()
        assert len(rows) == bands
        return [row.value for row in rows]

    def one(area=None, **kw):
        return M.TimeseriesV2Request(
            dataset_id=dataset_id, variable_id=variable_id, zonal_statistic=stat,
            selected_area=area or _cell_point(meta, r, c), **kw,
        )

    values = expected(variable_id)
    if dataset_id.startswith("annual"):
        assert None in values  # the hole at band 3
    unc = variable_id == "float32_variable"
    neighbour = one(_cell_point(meta, 0, 0))
    polygon = one(SQUARE, include_uncertainty=unc)
    alone = lake_svc.execute(one(include_uncertainty=unc))
    batched, points = lake_svc.execute_many([neighbour, one(include_uncertainty=unc)])
    mixed = lake_svc.execute_many([polygon, one(include_uncertainty=unc)])[1]
    for resp in (alone, points, mixed):
        assert resp.series[0].values == values
    assert batched.uncertainty is None
    assert batched.series == lake_svc.execute(neighbour).series
    if unc:
        values = expected(variable_id + "_uncertainty")
        for resp in (alone, points, mixed):
            assert resp.uncertainty.values == values
