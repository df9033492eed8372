"""Request/response models — pydantic surface mirroring the reference.

Discriminated unions on ``type`` select geometry, transform, and smoother,
matching reference ``timeseries/app/schemas/timeseries.py``:

- smoothers (``timeseries.py:64-124``): ``NoSmoother``;
  ``MovingAverageSmoother`` (method centered|trailing, width 1–200,
  centered width must be odd — ``timeseries.py:84-98``);
- transforms (``timeseries.py:127-194``): ``NoTransform``;
  ``ZScoreMovingInterval`` (width 0–200); ``ZScoreFixedInterval``
  (optional reference time range);
- request (``timeseries.py:346-365``): ids constrained to ``^[\\w-]+$``,
  ``max_processing_time`` bounded.

Each smoother/transform exposes its band-padding ``adjustment()`` —
consumed by the padding planner (plans.intervals, W6).
"""

from __future__ import annotations

from datetime import date
from typing import Annotated, Literal, Optional, Union

from pydantic import BaseModel, Field, field_validator

from skope_api_spark.plans import intervals as iv

MAX_PROCESSING_TIME_MS = 15_000  # reference config.py:32


def _date(year: int, month: int, day: int) -> date:
    """``date(year, month, day)``, raising ``ValueError`` (a 422) also for
    a component past a C long, where ``date`` raises ``OverflowError``."""
    try:
        return date(year, month, day)
    except OverflowError as e:
        raise ValueError(f"date out of range: {year}-{month}-{day}") from e


def _coerce_loose_date(v):
    """Accept the reference's shipped request-fixture date forms
    (``data/requests/*.json``): a bare year int (``2`` → 0002-01-01) and a
    ``{"year", "month"}`` object (``{"year": 3, "month": 1}`` →
    0003-01-01) — same year→Jan-1 semantics the v1 string parser documents
    (reference timeseries.py:289-325)."""
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return _date(v, 1, 1)
    if isinstance(v, dict) and "year" in v:
        # null month/day mean "not specified" (Jan/1st); any non-numeric
        # value must surface as ValueError so pydantic converts it to a
        # ValidationError (422) — a bare TypeError would 500 the request.
        # A JSON boolean is not a number, and a fractional one is no
        # component: int() would read true as 1 and 2.7 as 2 (an integral
        # 2.0 is 2)
        def _num(x, default):
            if x is None:
                return default
            if isinstance(x, bool) or (isinstance(x, float) and not x.is_integer()):
                raise ValueError(f"invalid date component {x!r}")
            try:
                return int(x)
            except (TypeError, ValueError, OverflowError) as e:
                raise ValueError(f"invalid date component {x!r}") from e

        if v["year"] is None:
            # date(None, ...) would raise a bare TypeError → 500; a null
            # year has no Jan-1 default, it is simply malformed
            raise ValueError("date object requires a non-null year")
        return _date(
            _num(v["year"], None),
            _num(v.get("month"), 1),
            _num(v.get("day"), 1),
        )
    return v


class OptionalTimeRangeModel(BaseModel):
    gte: Optional[date] = None
    lte: Optional[date] = None

    @field_validator("gte", "lte", mode="before")
    @classmethod
    def _loose(cls, v):
        return _coerce_loose_date(v)


class TimeRangeModel(BaseModel):
    gte: date
    lte: date

    @field_validator("gte", "lte", mode="before")
    @classmethod
    def _loose(cls, v):
        return _coerce_loose_date(v)

    @field_validator("lte")
    @classmethod
    def _ordered(cls, v, info):
        gte = info.data.get("gte")
        if gte is not None and v < gte:
            raise ValueError("time_range.gte must be <= lte")
        return v


class NoSmoother(BaseModel):
    type: Literal["NoSmoother"] = "NoSmoother"

    def adjustment(self) -> iv.Adjustment:
        return iv.NO_ADJUSTMENT


class MovingAverageSmoother(BaseModel):
    type: Literal["MovingAverageSmoother"] = "MovingAverageSmoother"
    method: Literal["centered", "trailing"]
    width: int = Field(ge=1, le=200)

    @field_validator("width")
    @classmethod
    def _centered_odd(cls, v, info):
        if info.data.get("method") == "centered" and v % 2 == 0:
            raise ValueError("centered moving average width must be odd")
        return v

    def adjustment(self) -> iv.Adjustment:
        if self.method == "centered":
            return iv.centered_adjustment(self.width)
        return iv.trailing_adjustment(self.width)


Smoother = Annotated[
    Union[NoSmoother, MovingAverageSmoother], Field(discriminator="type")
]


class NoTransform(BaseModel):
    type: Literal["NoTransform"] = "NoTransform"

    def adjustment(self) -> iv.Adjustment:
        return iv.NO_ADJUSTMENT


class ZScoreMovingInterval(BaseModel):
    type: Literal["ZScoreMovingInterval"] = "ZScoreMovingInterval"
    width: int = Field(ge=0, le=200)

    def adjustment(self) -> iv.Adjustment:
        return iv.rolling_zscore_adjustment(self.width)


class ZScoreFixedInterval(BaseModel):
    type: Literal["ZScoreFixedInterval"] = "ZScoreFixedInterval"
    time_range: Optional[TimeRangeModel] = None

    def adjustment(self) -> iv.Adjustment:
        return iv.NO_ADJUSTMENT


Transform = Annotated[
    Union[NoTransform, ZScoreMovingInterval, ZScoreFixedInterval],
    Field(discriminator="type"),
]


class SeriesOptions(BaseModel):
    """One requested output series: a named smoother config
    (reference timeseries.py:196-209)."""

    name: str
    smoother: Smoother


class TimeseriesV2Request(BaseModel):
    dataset_id: str = Field(pattern=r"^[\w-]+$")
    variable_id: str = Field(pattern=r"^[\w-]+$")
    selected_area: dict  # GeoJSON; validated/compiled by geometry.py
    zonal_statistic: Literal["mean", "median"] = "mean"
    time_range: OptionalTimeRangeModel = OptionalTimeRangeModel()
    transform: Transform = NoTransform()
    requested_series_options: list[SeriesOptions] = Field(
        default_factory=lambda: [SeriesOptions(name="original", smoother=NoSmoother())]
    )
    max_processing_time: int = Field(
        default=MAX_PROCESSING_TIME_MS, ge=0, le=MAX_PROCESSING_TIME_MS
    )
    # S6: also extract the companion `{variable_id}_uncertainty` slice over
    # the same cells/requested range (reference wires this source but never
    # serves it; here it is a first-class option)
    include_uncertainty: bool = False


class SeriesResult(BaseModel):
    name: str
    time_range: Optional[TimeRangeModel] = None
    values: list[Optional[float]] = Field(default_factory=list)


class SummaryStatRow(BaseModel):
    name: str
    mean: Optional[float] = None
    median: Optional[float] = None
    stdev: Optional[float] = None


class TimeseriesV2Response(BaseModel):
    dataset_id: str
    variable_id: str
    n_cells: int
    area_m2: float
    series: list[SeriesResult]
    summary_stats: list[SummaryStatRow]
    processing_time_ms: int
    uncertainty: Optional[SeriesResult] = None


class TimeseriesV1Request(BaseModel):
    """Legacy shape (reference timeseries.py:277-287)."""

    datasetId: str = Field(pattern=r"^[\w-]+$")
    variableName: str = Field(pattern=r"^[\w-]+$")
    boundaryGeometry: dict
    start: Optional[str] = None
    end: Optional[str] = None

    @field_validator("start", "end", mode="before")
    @classmethod
    def _int_to_str(cls, v):
        # the shipped v1 fixture (data/requests/timeseriesv1.json) sends
        # bare year ints; the reference's pydantic v1 coerced them to str
        return str(v) if isinstance(v, int) else v

    @field_validator("start", "end")
    @classmethod
    def _v1_date(cls, v):
        # a malformed date is a validation error (422), like any other field
        if v:
            parse_v1_date(v)
        return v


def parse_v1_date(s: str) -> date:
    """Parse v1 "1" / "2000-01" strings (reference timeseries.py:295-325).

    A bare year maps to Jan 1 on BOTH ends ("1" → 0001-01-01) — reference
    parity: band resolution works on step starts, so an annual end year "5"
    must resolve to 0005-01-01 (band 5), not 0005-12.
    """
    parts = s.split("-")
    year = int(parts[0])
    month = int(parts[1]) if len(parts) > 1 else 1
    return _date(year, month, 1)


def legacy_payload_to_v2(payload: dict) -> dict:
    """Normalize pre-series-options v2 payloads (the reference's shipped
    ``data/requests/yearly*.json`` fixtures): a ``transforms`` list of
    smoother configs becomes ``requested_series_options`` (original +
    one named series per smoother); ``resolution`` is dropped (it is
    catalog-derived). Current-shape payloads pass through untouched."""
    p = dict(payload)
    p.pop("resolution", None)
    transforms = p.pop("transforms", None)
    if transforms and "requested_series_options" in p:
        # refusing beats silently dropping the client's transforms list
        raise ValueError(
            "payload mixes legacy 'transforms' with 'requested_series_options'"
            " — send one or the other"
        )
    if transforms:
        p["requested_series_options"] = [
            {"name": "original", "smoother": {"type": "NoSmoother"}},
            *(
                {"name": f"transform_{i}", "smoother": t}
                for i, t in enumerate(transforms)
            ),
        ]
    return p


def v1_to_v2(req: TimeseriesV1Request) -> TimeseriesV2Request:
    """P9 — legacy adapter: mean zonal stat, no transform, one raw series
    (reference timeseries.py:327-343)."""
    tr = OptionalTimeRangeModel(
        gte=parse_v1_date(req.start) if req.start else None,
        lte=parse_v1_date(req.end) if req.end else None,
    )
    return TimeseriesV2Request(
        dataset_id=req.datasetId,
        variable_id=req.variableName,
        selected_area=req.boundaryGeometry,
        zonal_statistic="mean",
        time_range=tr,
        transform=NoTransform(),
        requested_series_options=[
            SeriesOptions(name="original", smoother=NoSmoother())
        ],
    )
