"""Interval algebra + planner unit tests.

Ports the semantics covered by reference ``test_stores.py:22-47`` (band ↔
time translation incl. containment errors, annual and monthly) and the
band-padding behavior verified by reference ``test_datasets.py:91-121``.
"""

from __future__ import annotations

from datetime import date

import pytest

from skope_api_spark.plans.intervals import (
    MONTH,
    YEAR,
    BandRange,
    TimeRange,
    TimeRangeContainmentError,
    band_range_for_time_range,
    centered_adjustment,
    disjoint_band_ranges,
    extraction_band_range,
    normalize_time_range,
    output_band_range,
    time_for_band,
    trailing_adjustment,
)

ANNUAL_SPAN = TimeRange(date(1, 1, 1), date(5, 1, 1))
MONTHLY_SPAN = TimeRange(date(1, 1, 1), date(5, 12, 1))


class TestBandRange:
    def test_validates_order(self):
        with pytest.raises(ValueError):
            BandRange(5, 4)

    def test_intersect(self):
        assert BandRange(1, 5).intersect(BandRange(3, 9)) == BandRange(3, 5)

    def test_union_is_hull(self):
        # Reference semantics: hull, not set union (common.py:35-46)
        assert BandRange(1, 2).union(BandRange(7, 9)) == BandRange(1, 9)

    def test_disjoint_ranges_merge_overlaps_and_neighbours(self):
        assert disjoint_band_ranges(
            [BandRange(8, 9), BandRange(1, 3), BandRange(2, 5), BandRange(6, 6)]
        ) == [BandRange(1, 6), BandRange(8, 9)]
        assert disjoint_band_ranges([BandRange(4, 7)]) == [BandRange(4, 7)]
        assert disjoint_band_ranges([]) == []

    def test_shift_and_len(self):
        assert BandRange(3, 6).shift((-2, 1)) == BandRange(1, 7)
        assert len(BandRange(3, 6)) == 4
        assert list(BandRange(2, 4)) == [2, 3, 4]


class TestTimeToBand:
    def test_annual_full_span(self):
        br = band_range_for_time_range(ANNUAL_SPAN, ANNUAL_SPAN, YEAR)
        assert br == BandRange(1, 5)

    def test_annual_subrange(self):
        req = TimeRange(date(2, 1, 1), date(4, 1, 1))
        assert band_range_for_time_range(req, ANNUAL_SPAN, YEAR) == BandRange(2, 4)

    def test_monthly_full_span(self):
        br = band_range_for_time_range(MONTHLY_SPAN, MONTHLY_SPAN, MONTH)
        assert br == BandRange(1, 60)

    def test_monthly_subrange(self):
        req = TimeRange(date(1, 2, 1), date(2, 3, 1))
        assert band_range_for_time_range(req, MONTHLY_SPAN, MONTH) == BandRange(2, 15)

    def test_containment_error(self):
        with pytest.raises(TimeRangeContainmentError):
            band_range_for_time_range(
                TimeRange(date(1, 1, 1), date(6, 1, 1)), ANNUAL_SPAN, YEAR
            )

    def test_round_trip_annual(self):
        br = BandRange(2, 4)
        tr = TimeRange(
            time_for_band(ANNUAL_SPAN.gte, br.gte, YEAR),
            time_for_band(ANNUAL_SPAN.gte, br.lte, YEAR),
        )
        assert tr == TimeRange(date(2, 1, 1), date(4, 1, 1))
        assert band_range_for_time_range(tr, ANNUAL_SPAN, YEAR) == br

    def test_round_trip_monthly_every_band(self):
        for band in range(1, 61):
            t = time_for_band(MONTHLY_SPAN.gte, band, MONTH)
            rt = band_range_for_time_range(
                TimeRange(t, t), MONTHLY_SPAN, MONTH
            )
            assert rt == BandRange(band, band)

    def test_normalize_fills_open_ends(self):
        assert normalize_time_range(None, None, ANNUAL_SPAN) == ANNUAL_SPAN
        assert normalize_time_range(date(2, 1, 1), None, ANNUAL_SPAN) == TimeRange(
            date(2, 1, 1), date(5, 1, 1)
        )


class TestPaddingPlanner:
    """The reference's semantic golden (test_datasets.py:91-121): request
    years 1-4 of a 5-band dataset with [none, trailing w=2, centered w=3]."""

    requested = BandRange(1, 4)
    available = BandRange(1, 5)

    def test_extraction_hull(self):
        extract = extraction_band_range(
            self.requested,
            self.available,
            smoother_adjustments=((0, 0), trailing_adjustment(2), centered_adjustment(3)),
        )
        assert extract == BandRange(1, 5)

    def test_output_ranges_match_reference_golden(self):
        extract = BandRange(1, 5)
        assert output_band_range(extract, self.requested, (0, 0)) == BandRange(1, 4)
        assert output_band_range(
            extract, self.requested, trailing_adjustment(2)
        ) == BandRange(3, 4)
        assert output_band_range(
            extract, self.requested, centered_adjustment(3)
        ) == BandRange(2, 4)

    def test_edge_clipping_empty_output(self):
        # Request pinned at the data edge: a trailing w=2 smoother has no
        # band with 2 predecessors inside the extract → empty output series
        extract = extraction_band_range(
            BandRange(1, 2),
            self.available,
            smoother_adjustments=(trailing_adjustment(2),),
        )
        assert extract == BandRange(1, 2)
        assert output_band_range(extract, BandRange(1, 2), trailing_adjustment(2)) is None
