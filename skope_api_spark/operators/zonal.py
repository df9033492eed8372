"""Zonal statistics over datacube cells (reference A1–A7).

The reference computes per-band masked-array stats over the selected cells
(``geometry.py:180-207``) and per-series summary stats
(``timeseries.py:243-261``). Spark-first: the zonal stat is a groupBy over
the pruned cube slice; NULL-skipping aggregates reproduce numpy's masked /
``nan*`` semantics exactly (nodata was normalized to NULL at ingestion).

Scale note: the groupBy shuffles only the pruned slice (band-range +
cell-predicate pushdown happen at the scan), and the per-band series that
window functions run on is tiny (one row per band per series key). Batched
multi-geometry execution is ``api/service.py::zonal_picks``: it tags the
selection with a ``query_id`` and includes it in ``keys``, so thousands of
extractions become one job over the same scan (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ZONAL_STATS = ("mean", "median")


def zonal_series(
    cells: DataFrame,
    stat: str = "mean",
    *,
    keys: Sequence[str] = ("band", "time"),
    value_col: str = "value",
) -> DataFrame:
    """Per-band zonal statistic over the selected cells.

    Returns one row per key group: (*keys, value, n_cells, n_valid).
    ``mean``/``median`` skip NULLs (masked-array parity); ``median`` is
    exact (A2 — never percentile_approx, the oracle hash requires exact).
    ``n_cells`` counts all selected cells, matching the reference's
    geometry-not-nodata-aware count (``geometry.py:184``).
    """
    if stat == "mean":
        agg = F.avg(value_col)
    elif stat == "median":
        agg = F.median(value_col)
    else:
        raise ValueError(f"unknown zonal stat {stat!r}; expected {ZONAL_STATS}")
    return cells.groupBy(*keys).agg(
        agg.alias("value"),
        F.count(F.lit(1)).alias("n_cells"),
        F.count(value_col).alias("n_valid"),
    )


def weighted_zonal_series(
    cells: DataFrame,
    *,
    keys: Sequence[str] = ("band", "time"),
    value_col: str = "value",
    weight_col: str = "cell_area",
) -> DataFrame:
    """Area-weighted zonal mean — the geographically correct zonal statistic
    for lat-lon grids (unweighted means over-count high-latitude cells,
    whose areas shrink by cos φ). Weights of NULL-valued cells are excluded
    from the denominator, preserving nan*-skipping semantics.

    An engine extension beyond the reference (which averages cells
    unweighted); both forms are exposed so results are comparable.
    """
    v, w = F.col(value_col), F.col(weight_col)
    num = F.sum(F.when(v.isNotNull(), v * w))
    den = F.sum(F.when(v.isNotNull(), w))
    return cells.groupBy(*keys).agg(
        (num / den).alias("weighted_mean"),
        F.count(value_col).alias("n_valid"),
    )


def summary_stats(
    series: DataFrame,
    *,
    keys: Sequence[str] = (),
    value_col: str = "value",
) -> DataFrame:
    """A5 — per-series summary: mean, exact median, POPULATION stddev.

    numpy ``nanstd`` is ddof=0 → ``stddev_pop`` (reference
    ``timeseries.py:260``); all-NULL series naturally yield NULL stats.
    """
    grouped = series.groupBy(*keys) if keys else series.groupBy()
    return grouped.agg(
        F.avg(value_col).alias("mean"),
        F.median(value_col).alias("median"),
        F.stddev_pop(value_col).alias("stddev"),
        F.count(value_col).alias("n_valid"),
    )
