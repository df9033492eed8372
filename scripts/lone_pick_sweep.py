#!/usr/bin/env python
"""Size sweep of a lone polygon pick: the one-task plan against the
broadcast-join-and-exchange plan, interleaved in one Spark session.

    python3 perfbench/run.py --build      # builds .bench_build/lake once
    python scripts/lone_pick_sweep.py [--lake .bench_build/lake] [--rounds 7]

``api/service.py::zonal_picks`` selects a lone pick's cells by a set of
cell keys and aggregates them in one task when the pick has at
most ``ONE_TASK_CELLS`` cells and selects at most ``ONE_TASK_ROWS`` rows,
and with the mask join and a partial-aggregate exchange otherwise. This
script times both plans on the lbda-shaped slice of the benchmark lake
(2017 bands × 50 × 115 cells) for two ladders of selection sizes, rows
from ~0.1M to the whole grid over its full span (11.6M) and cells from
500 to the whole grid over 10 bands, for ``mean`` and ``median``: each
sample is one ``_zonal`` call (DataFrame build and collect) of a block
of cells over a band span, with both bounds forced above the size (the
one-task plan) and to 0 (the join plan), in alternating order. It
prints one row per (size, statistic): the median ms of each plan over
``--rounds`` samples, their ratio and the samples. Both plans' rows are
checked equal first.
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# (rows of cells, cols of cells, bands): rows × cols × bands selected rows
ROW_LADDER = [
    (10, 25, 400),     # 0.10M
    (20, 25, 250),     # 0.125M
    (20, 25, 300),     # 0.15M
    (20, 25, 400),     # 0.20M
    (20, 25, 600),     # 0.30M
    (20, 50, 400),     # 0.40M
    (20, 50, 450),     # 0.45M
    (12, 25, 2017),    # 0.61M
    (20, 25, 2017),    # 1.01M
    (23, 50, 2017),    # 2.32M
    (25, 100, 2017),   # 5.04M
    (50, 115, 2017),   # 11.60M: the whole grid over its full span
]
# many cells over few bands: the predicate's planning cost per cell
CELL_LADDER = [
    (20, 25, 10),      # 500 cells
    (25, 30, 10),      # 750
    (20, 50, 10),      # 1,000
    (30, 50, 10),      # 1,500
    (40, 50, 10),      # 2,000
    (30, 100, 10),     # 3,000
    (40, 100, 10),     # 4,000
    (50, 115, 10),     # 5,750: the whole grid
]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--lake", default=str(ROOT / ".bench_build" / "lake"))
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from perfbench import lake
    from skope_api_spark.api import service
    from skope_api_spark.plans.intervals import BandRange
    from skope_api_spark.session import get_spark
    from skope_api_spark.sources.lake import lake_service

    spark = get_spark("lone_pick_sweep", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    lake.register_lbda()
    svc = lake_service(spark, args.lake)
    meta = svc.catalog.variable(lake.LBDA_ID, lake.LBDA_VAR)
    cube = svc.cube(meta, lake.LBDA_VAR)
    one_task, join = 10**9, 0

    def run(bound: int, stat: str, picks) -> tuple[float, list]:
        service.ONE_TASK_CELLS = service.ONE_TASK_ROWS = bound
        t0 = time.perf_counter()
        rows = svc._zonal(cube, stat, picks, 0)
        return (time.perf_counter() - t0) * 1000, rows

    print(f"{'cells':>6} {'rows':>10} {'stat':>6} {'one-task ms':>11} {'join ms':>8} {'ratio':>6}  "
          "samples (one-task | join)")
    for h, w, nb in ROW_LADDER + CELL_LADDER:
        r0, c0 = (lake.LBDA_ROWS - h) // 2, (lake.LBDA_COLS - w) // 2
        cells = [(r, c) for r in range(r0, r0 + h) for c in range(c0, c0 + w)]
        b0 = (lake.LBDA_BANDS - nb) // 2 + 1
        picks = [(cells, [BandRange(b0, b0 + nb - 1)])]
        for stat in ("mean", "median"):
            # a warm-up of each plan, which also checks that they agree (up
            # to the order in which the partial sums of a mean are added)
            (a,), (b,) = (run(bound, stat, picks)[1] for bound in (one_task, join))
            assert [(r.band, r.time) for r in a] == [(r.band, r.time) for r in b]
            assert all(
                x.value == y.value or math.isclose(x.value, y.value, rel_tol=1e-12)
                for x, y in zip(a, b)
            )
            samples = {one_task: [], join: []}
            for i in range(args.rounds):
                order = (one_task, join) if i % 2 == 0 else (join, one_task)
                for bound in order:
                    samples[bound].append(run(bound, stat, picks)[0])
            a, b = (statistics.median(samples[k]) for k in (one_task, join))
            print(
                f"{len(cells):>6,} {len(cells) * nb:>10,} {stat:>6} {a:>11.0f} {b:>8.0f} {a / b:>6.2f}  "
                f"{' '.join(f'{x:.0f}' for x in samples[one_task])} | "
                f"{' '.join(f'{x:.0f}' for x in samples[join])}",
                flush=True,
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
