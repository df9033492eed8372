"""Self-tests of the benchmark's own instruments (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import apigen, oracle, spans
from perfbench.metrics import percentile, tail_percentile


class TestTailRule:
    @pytest.mark.parametrize(
        "n, p", [(1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 75), (40, 75), (39, None)]
    )
    def test_highest_percentile_with_ten_samples_beyond(self, n, p):
        assert tail_percentile(n) == p

    def test_percentile_interpolates_inclusively(self):
        xs = list(range(1, 101))
        assert percentile(xs, 50) == pytest.approx(50.5)
        assert percentile(xs, 90) == pytest.approx(90.1)
        assert percentile([7.0], 90) == 7.0


def _ev(**kw) -> str:
    return json.dumps(kw)


CANNED_LOG = "\n".join([
    _ev(Event="SparkListenerLogStart"),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 30, "Input Metrics": {"Bytes Read": 500, "Records Read": 40},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 20, "Input Metrics": {"Bytes Read": 300, "Records Read": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 36}}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"Executor Run Time": 5}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1100}),
    # two overlapping jobs in the second window; stage 3 was skipped
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000, "Stage IDs": [2]}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 2050, "Stage IDs": [3, 4]}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 7}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 4, "Task Metrics": {"Executor Run Time": 9}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 4}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2100}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 2200}),
])


class TestEventLog:
    def test_jobs_and_stages_are_assigned_by_window(self):
        jobs, stages = spans.parse_eventlog(CANNED_LOG.splitlines())
        assert sorted(jobs) == [0, 1, 2]
        first, second, empty = spans.spark_per_window(
            [(jobs, stages)], [(900, 1200), (1990, 2300), (3000, 4000)]
        )
        assert first == {
            "jobs": 1, "stages": 2, "tasks": 3, "job_ms": 100, "task_run_ms": 55,
            "shuffle_write_bytes": 100, "input_rows": 50, "input_bytes": 800,
        }
        # overlapping jobs count their union once; the skipped stage not at all
        assert second["jobs"] == 2 and second["stages"] == 2 and second["tasks"] == 2
        assert second["job_ms"] == 200
        assert empty["jobs"] == 0 and empty["job_ms"] == 0

    def test_applications_keep_their_own_job_and_stage_ids(self, tmp_path):
        # a later session of the same JVM numbers its jobs and stages from 0 again
        later = CANNED_LOG.replace('"Submission Time": 1000', '"Submission Time": 5000').replace(
            '"Completion Time": 1100', '"Completion Time": 5100')
        (tmp_path / "local-1").write_text(CANNED_LOG)
        (tmp_path / "local-2").write_text(later)
        apps = spans.parse_eventlog_dir(tmp_path)
        first, again = spans.spark_per_window(apps, [(900, 1200), (4900, 5200)])
        assert first == again
        assert first["input_rows"] == 50 and first["tasks"] == 3


class TestOracle:
    def test_dev_cube_golden_point_series(self):
        # cell (2, 3) of annual_5x5x5_dataset/float32_variable: x + 23.3 for
        # x in 100..500, stored as float32
        ds = oracle.DATASETS[("annual_5x5x5_dataset", "float32_variable")]
        payload = {
            "dataset_id": ds.dataset_id,
            "variable_id": ds.variable_id,
            "selected_area": {"type": "Point", "coordinates": ds.point(2, 3, 0.5, 0.5)},
        }
        want = oracle.expected_response(payload, [(2, 3)])
        (series,) = want["series"]
        assert series["values"] == pytest.approx([x + 23.3 for x in (100, 200, 300, 400, 500)], abs=1e-4)
        assert series["time_range"] == {"gte": "0001-01-01", "lte": "0005-01-01"}
        assert want["n_cells"] == 1
        assert oracle.diff(want, want) is None

    def test_centered_smoother_emits_full_windows_only(self):
        ds = oracle.DATASETS[("annual_5x5x5_dataset", "float32_variable")]
        payload = {
            "dataset_id": ds.dataset_id,
            "variable_id": ds.variable_id,
            "selected_area": {"type": "Point", "coordinates": ds.point(2, 3, 0.5, 0.5)},
            "requested_series_options": [{"name": "c3", "smoother": {
                "type": "MovingAverageSmoother", "method": "centered", "width": 3}}],
        }
        (series,) = oracle.expected_response(payload, [(2, 3)])["series"]
        assert series["values"] == pytest.approx([223.3, 323.3, 423.3], abs=1e-4)

    def test_diff_reports_a_wrong_value(self):
        want = {"series": [{"values": [1.0, None]}]}
        assert oracle.diff({"series": [{"values": [1.0, None]}]}, want) is None
        assert "values[1]" in oracle.diff({"series": [{"values": [1.0, 2.0]}]}, want)


class TestGenerator:
    @pytest.mark.parametrize("seed", range(8))
    def test_polygon_cells_match_the_all_touched_rasterizer(self, seed):
        from skope_api_spark.geometry import Grid, rasterize_all_touched

        rng = np.random.default_rng(seed)
        for ds, n in ((apigen.LBDA, 30), (apigen.LBDA, 400), (apigen.LBDA, 1500), (apigen.DEV_ANNUAL, 16)):
            area, cells = apigen.polygon_area(rng, ds, n)
            grid = Grid(ds.origin_lon, ds.origin_lat, ds.px, ds.rows, ds.cols)
            assert rasterize_all_touched(grid, area) == cells

    def test_same_seed_same_requests(self):
        a = apigen.point_cycle(np.random.default_rng(3), 0)
        b = apigen.point_cycle(np.random.default_rng(3), 0)
        assert [i.payload for i in a] == [i.payload for i in b]
        assert sum(i.status == 422 for i in a) == 1


class TestBatchCheck:
    """The execute_many check tells the two known defects apart from any
    other wrong answer."""

    @staticmethod
    def _answers(batch):
        return [oracle.expected_response(it.payload, it.cells) if it.status == 200 else None for it in batch]

    def _probe(self):
        mixed, with_invalid = apigen.batch_probe(np.random.default_rng(5))
        unc = next(i for i, it in enumerate(mixed) if it.payload.get("include_uncertainty"))
        return mixed, with_invalid, unc

    def test_known_defects_make_up_the_recorded_share(self):
        mixed, with_invalid, unc = self._probe()
        bodies = self._answers(mixed)
        bodies[unc] = {**bodies[unc], "uncertainty": None}
        got = oracle.check_batch(mixed, bodies, None)
        got += oracle.check_batch(
            with_invalid, [], "DatasetNotFoundError: \"no variable 'pdsi_unknown'\""
        )
        assert [k for k, _ in got] == [oracle.MISSING_UNCERTAINTY] + [oracle.FAILED_BY_INVALID] * 4
        valid = sum(it.status == 200 for it in mixed + with_invalid)
        assert len(got) / valid == pytest.approx(apigen.BATCH_KNOWN_FAILED_SHARE)

    def test_correct_answers_pass(self):
        mixed, with_invalid, _ = self._probe()
        assert oracle.check_batch(mixed, self._answers(mixed), None) == []
        valid_only = [it for it in with_invalid if it.status == 200]
        assert oracle.check_batch(valid_only, self._answers(valid_only), None) == []

    def test_other_failures_are_unexpected(self):
        mixed, with_invalid, unc = self._probe()
        bodies = self._answers(mixed)
        bodies[0] = {**bodies[0], "n_cells": bodies[0]["n_cells"] + 1}
        # a missing uncertainty series next to a wrong value is not the known defect
        bodies[unc] = {**bodies[unc], "uncertainty": None, "n_cells": 99}
        assert [k for k, _ in oracle.check_batch(mixed, bodies, None)] == [None, None]
        # a batch without an invalid request, or failing for another reason
        assert {k for k, _ in oracle.check_batch(mixed, [], "DatasetNotFoundError: x")} == {None}
        assert {k for k, _ in oracle.check_batch(with_invalid, [], "Py4JJavaError: x")} == {None}
        assert [k for k, _ in oracle.check_batch(mixed, bodies[:3], None)] == [None]

    def test_spec_records_the_expected_share(self):
        spec = json.loads((Path(__file__).parent / "spec.json").read_text())
        assert spec["batch_probe"]["expected_failed_share"] == round(apigen.BATCH_KNOWN_FAILED_SHARE, 4)
