"""Band/time interval algebra — the reference's only real query planner.

Re-implements (pure Python, plan-time) the semantics of the reference's
``BandRange``/``TimeRange`` value objects and the time↔band translation:

- interval algebra: reference ``timeseries/app/schemas/common.py:26-62``
  (``BandRange.intersect/union/__add__``), ``common.py:65-88``
  (``TimeRange``, ``OptionalTimeRange``);
- time-range → band-range resolution and its inverse: reference
  ``timeseries/app/schemas/dataset.py:43-88``;
- band-padding planner (one shared extraction range for a transform and N
  smoothers): reference ``timeseries/app/schemas/timeseries.py:384-415``;
- output relabeling ranges: reference ``timeseries.py:417-431``.

Everything here compiles down to a single ``col("band").between(gte, lte)``
predicate — Parquet row-group/partition pruning does the rest; no Catalyst
extension is needed (SURVEY.md §4).

Bands are 1-based and both interval ends are inclusive, matching the
reference throughout. ``union`` is the interval hull (not a set union) —
that is exactly what the reference implements and what the padding planner
relies on.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from dateutil.relativedelta import relativedelta

YEAR = "year"
MONTH = "month"


class TimeRangeContainmentError(ValueError):
    """Requested time range is outside the dataset's available range.

    Mirrors reference ``exceptions.py`` / ``dataset.py:56-63``.
    """


@dataclass(frozen=True, order=True)
class BandRange:
    """Closed 1-based interval of time-step indices (reference common.py:26-62)."""

    gte: int
    lte: int

    def __post_init__(self) -> None:
        if self.gte > self.lte:
            raise ValueError(f"BandRange gte {self.gte} > lte {self.lte}")

    def intersect(self, other: "BandRange") -> "BandRange":
        return BandRange(max(self.gte, other.gte), min(self.lte, other.lte))

    def union(self, other: "BandRange") -> "BandRange":
        """Interval hull (reference semantics — NOT a set union)."""
        return BandRange(min(self.gte, other.gte), max(self.lte, other.lte))

    def shift(self, adjustment: tuple[int, int]) -> "BandRange":
        """Add (d_gte, d_lte) to the ends (reference ``__add__``)."""
        return BandRange(self.gte + adjustment[0], self.lte + adjustment[1])

    def __len__(self) -> int:
        return self.lte - self.gte + 1

    def __iter__(self):
        return iter(range(self.gte, self.lte + 1))


@dataclass(frozen=True)
class TimeRange:
    """Closed date interval; gte <= lte enforced (reference common.py:65-80)."""

    gte: date
    lte: date

    def __post_init__(self) -> None:
        if self.gte > self.lte:
            raise ValueError(f"TimeRange gte {self.gte} > lte {self.lte}")

    def intersect(self, other: "TimeRange") -> "TimeRange":
        return TimeRange(max(self.gte, other.gte), min(self.lte, other.lte))

    def contains(self, other: "TimeRange") -> bool:
        return self.gte <= other.gte and other.lte <= self.lte


def normalize_time_range(
    gte: date | None, lte: date | None, available: TimeRange
) -> TimeRange:
    """Fill open ends from the dataset span (reference dataset.py:43-47)."""
    return TimeRange(gte or available.gte, lte or available.lte)


def _steps_between(origin: date, target: date, resolution: str) -> int:
    delta = relativedelta(target, origin)
    if resolution == MONTH:
        return delta.months + 12 * delta.years
    if resolution == YEAR:
        return delta.years
    raise ValueError(f"unknown resolution {resolution!r}")


def band_range_for_time_range(
    requested: TimeRange, available: TimeRange, resolution: str
) -> BandRange:
    """P1 — time range → 1-based band interval (reference dataset.py:49-72).

    months: Δmonths + 12·Δyears + 1 ; years: Δyears + 1. Raises
    ``TimeRangeContainmentError`` when the request falls outside the span.
    """
    if not available.contains(requested):
        raise TimeRangeContainmentError(
            f"requested {requested} not within available {available}"
        )
    return BandRange(
        _steps_between(available.gte, requested.gte, resolution) + 1,
        _steps_between(available.gte, requested.lte, resolution) + 1,
    )


def time_for_band(origin: date, band: int, resolution: str) -> date:
    """Inverse translation for one band (reference dataset.py:74-88)."""
    if resolution == MONTH:
        return origin + relativedelta(months=band - 1)
    if resolution == YEAR:
        return origin + relativedelta(years=band - 1)
    raise ValueError(f"unknown resolution {resolution!r}")


# --- padding planner (W6) ---------------------------------------------------

Adjustment = tuple[int, int]
NO_ADJUSTMENT: Adjustment = (0, 0)


def centered_adjustment(width: int) -> Adjustment:
    """Centered MA needs w//2 bands each side (reference timeseries.py:100-108)."""
    return (-(width // 2), width // 2)


def trailing_adjustment(width: int) -> Adjustment:
    """Trailing MA needs ``width`` bands before (reference timeseries.py:100-112)."""
    return (-width, 0)


def rolling_zscore_adjustment(width: int) -> Adjustment:
    """Rolling z-score needs ``width`` preceding bands (reference timeseries.py:127-150)."""
    return (-width, 0)


def extraction_band_range(
    requested: BandRange,
    available: BandRange,
    *,
    transform_adjustment: Adjustment = NO_ADJUSTMENT,
    smoother_adjustments: tuple[Adjustment, ...] = (),
) -> BandRange:
    """W6 — the single padded range one read must cover for every series.

    requested + transform adjustment, hull-unioned with each smoother's
    padded range, clipped to the available range (outputs near the data edge
    silently shrink — reference timeseries.py:402-415).
    """
    base = requested.shift(transform_adjustment)
    out = base
    for adj in smoother_adjustments:
        out = out.union(base.shift(adj))
    return out.intersect(available)


def disjoint_band_ranges(ranges: list[BandRange]) -> list[BandRange]:
    """The set union of ``ranges`` as sorted, disjoint intervals: overlapping
    or adjacent ranges merge, so a band filter built from the result reads
    each band once (a range join against it never emits a band twice)."""
    out: list[BandRange] = []
    for r in sorted(ranges):
        if out and r.gte <= out[-1].lte + 1:
            out[-1] = out[-1].union(r)
        else:
            out.append(r)
    return out


def output_band_range(
    extracted: BandRange,
    requested: BandRange,
    smoother_adjustment: Adjustment,
) -> BandRange | None:
    """W7 — the bands a smoother can emit, clipped to the request.

    A smoother with adjustment (a, b) consumes a bands before and b after;
    its full-window outputs span ``extracted.shift((-a, -b))`` — i.e. the
    extraction range shrunk by the adjustment on each side — intersected
    with the requested range (reference timeseries.py:417-431). Returns
    ``None`` when the window cannot produce any output inside the request
    (request pinned at the data edge with a too-wide smoother) — the series
    is empty, matching the reference's silently-shrinking outputs.
    """
    a, b = smoother_adjustment
    try:
        return extracted.shift((-a, -b)).intersect(requested)
    except ValueError:
        return None
