#!/usr/bin/env python
"""Wall-time staircase between two scale factors for the heaviest ext
queries: measure each query's empirical scaling ratio so a superlinear
curve is arbitrated BEFORE it is ever a 100 TB surprise.

Each query runs twice per SF on one warm session (best-of-2 recorded).
The scale is the ratio of the two dirs' scale factors, and the implied
empirical exponent is log(t_hi/t_lo) / log(scale): O(n) → exponent ≈ 1;
O(n log n) → slightly above; anything ≳ 1.3 needs a design explanation
or a fix. A second decade (e.g. sf1 → sf3) confirms an exponent is
flat-or-falling beyond the first.

Host telemetry is recorded with ``bench.host_telemetry()`` at the start
and the end — a contended host invalidates the run.

Usage: python scripts/scale_staircase.py LO_DIR HI_DIR [query ...]
       Each dir's basename is its label and must be sfN (e.g. sf0.1, sf1),
       with HI's N above LO's; anything else exits 2 with the usage line.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = (
    "usage: scale_staircase.py LO_DIR HI_DIR [query ...]\n"
    "       dir basenames are sfN, with HI's N above LO's"
)

# The five heaviest ext-set queries by r13 bench wall-time whose cost is
# dominated by a nontrivial distributed algorithm (wedge join, iterative
# propagation, blocked ER closure, distributed exact quantiles, chained
# merge-scan encode).
DEFAULT = (
    "graph_triangle_top_nodes",
    "graph_pagerank_copurchase",
    "er_customer_record_clusters",
    "hist_equi_depth_price",
    "text_bpe_encode_profile",
)


def sf_label(sf_dir: str) -> tuple[str, float] | None:
    """(label, scale factor) from a dir whose basename is sfN, else None."""
    label = os.path.basename(os.path.normpath(sf_dir))
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", label)
    if not m or float(m.group(1)) <= 0:
        return None
    return label, float(m.group(1))


def main() -> int:
    if len(sys.argv) < 3:
        print(USAGE, file=sys.stderr)
        return 2
    lo_dir, hi_dir = sys.argv[1:3]
    names = sys.argv[3:] or list(DEFAULT)
    lo, hi = sf_label(lo_dir), sf_label(hi_dir)
    if lo is None or hi is None or hi[1] <= lo[1]:
        print(USAGE, file=sys.stderr)
        return 2
    (lo_name, lo_sf), (hi_name, hi_sf) = lo, hi
    scale = round(hi_sf / lo_sf, 6)

    from bench import host_telemetry
    from skope_api_spark.session import get_spark

    spark = get_spark(
        "staircase", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    import __spark_entry__ as e

    qs = e.queries()
    host0 = host_telemetry()
    rows = []
    for name in names:
        times = {}
        for sf_name, sf_dir in ((lo_name, lo_dir), (hi_name, hi_dir)):
            best = None
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[sf_name] = round(best, 3)
        ratio = times[hi_name] / times[lo_name]
        exp = (
            round(math.log10(ratio) / math.log10(scale), 3)
            if ratio > 0
            else None
        )
        rows.append(
            {
                "query": name,
                f"{lo_name}_s": times[lo_name],
                f"{hi_name}_s": times[hi_name],
                "scale": scale,
                "ratio": round(ratio, 2),
                "exponent": exp,
            }
        )
        print(
            f"{name}: {times[lo_name]}s -> {times[hi_name]}s "
            f"(x{ratio:.1f}, exp {exp})",
            flush=True,
        )
    print(
        json.dumps(
            {"staircase": rows, "host_start": host0, "host_end": host_telemetry()}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
