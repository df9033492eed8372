"""Benchmark inputs that are built once per checkout under ``.bench_build/``.

- ``lake/``: the cube lake written by the program's own
  ``sources.cube.ingest_to_parquet`` — the dev cubes plus an lbda_v2-shaped
  cube (2017 annual bands x 50x115 cells at 0.5 deg, 11.6M rows). The
  lbda-shaped dataset is registered at run time in the catalog and rule
  tables the ingest reads (``DEV_CATALOG``, ``VARIABLE_RULES``).
- ``sf0.1/``: the registry tables, generated by ``scripts/gen_testdata.py``.

A content hash of the program sources keys the build, so a checkout whose
code changed rebuilds its inputs instead of reusing stale ones.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import shutil
import time
from datetime import date
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"
LAKE = BUILD / "lake"
SF_DIR = BUILD / "sf0.1"
SF = 0.1
SF_GEN_SEED = 42
# JVM heap of the build process. With 2g the ingest's sort spills, and the
# write's own sort by the partition columns then interleaves the spilled
# runs, so the lake loses its (band, row, col) order; 4g keeps the sort in
# memory and the layout ingest_to_parquet documents.
BUILD_HEAP = "4g"

LBDA_ID, LBDA_VAR = "lbda_v2", "pdsi"
LBDA_BANDS, LBDA_ROWS, LBDA_COLS = 2017, 50, 115
LBDA_ORIGIN = (-125.0, 50.0)
LBDA_PX = 0.5
# Spark SQL over the band / row / col indices. The numpy twin below is the
# benchmark's oracle for it; keep the two in step.
LBDA_RULE = {
    "value": "sin(b * 0.37) * 3.0 + r * 0.5 + c * 0.25",
    "f32": False,
    "null": "(r * 7 + c * 3 + b) % 53 = 0",
}


def lbda_values(b: np.ndarray, r: np.ndarray, c: np.ndarray) -> np.ndarray:
    v = np.sin(b * 0.37) * 3.0 + r * 0.5 + c * 0.25
    return np.where((r * 7 + c * 3 + b) % 53 == 0, np.nan, v)


def lbda_meta(rows: int = LBDA_ROWS, cols: int = LBDA_COLS):
    from skope_api_spark.plans.catalog import DatasetMeta
    from skope_api_spark.plans.intervals import YEAR, TimeRange

    return DatasetMeta(
        dataset_id=LBDA_ID,
        resolution=YEAR,
        time_range=TimeRange(date(1, 1, 1), date(LBDA_BANDS, 1, 1)),
        variables=(LBDA_VAR,),
        grid_rows=rows,
        grid_cols=cols,
        origin_lon=LBDA_ORIGIN[0],
        origin_lat=LBDA_ORIGIN[1],
        pixel_deg=LBDA_PX,
    )


def register_lbda(rows: int = LBDA_ROWS, cols: int = LBDA_COLS) -> None:
    """Add the lbda-shaped dataset to the tables the catalog and the
    ingest read. ``Catalog()`` copies ``DEV_CATALOG`` when constructed, so
    register before building a service."""
    from skope_api_spark.plans.catalog import DEV_CATALOG
    from skope_api_spark.sources.cube import VARIABLE_RULES

    DEV_CATALOG[LBDA_ID] = lbda_meta(rows, cols)
    VARIABLE_RULES[(LBDA_ID, LBDA_VAR)] = LBDA_RULE


def source_hash() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "skope_api_spark").rglob("*.py"))
    files += [ROOT / "scripts" / "gen_testdata.py", Path(__file__)]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def tree_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) of the Parquet data files under ``path``."""
    sizes = [f.stat().st_size for f in path.rglob("*.parquet")]
    return sum(sizes), len(sizes)


def ingest(spark, path: Path) -> dict:
    """Run the program's ingest into ``path`` and time it."""
    from skope_api_spark.sources.cube import ingest_to_parquet

    t0 = time.perf_counter()
    ingest_to_parquet(spark, str(path))
    write_s = time.perf_counter() - t0
    nbytes, nfiles = tree_stats(path)
    return {"write_s": write_s, "bytes_written": nbytes, "files_written": nfiles}


MARKER = BUILD / "build.json"


def build_record() -> dict | None:
    """The record of this checkout's build, None when there is none for
    the current sources."""
    if MARKER.exists():
        rec = json.loads(MARKER.read_text())
        if rec.get("key") == source_hash():
            return rec
    return None


def build(spark) -> dict:
    """Build the lake and the registry tables; returns the build record."""
    key = source_hash()
    for p in (LAKE, SF_DIR):
        shutil.rmtree(p, ignore_errors=True)
    register_lbda()
    rec = {"key": key, "lake": ingest(spark, LAKE)}

    spec = importlib.util.spec_from_file_location(
        "gen_testdata", ROOT / "scripts" / "gen_testdata.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    SF_DIR.mkdir(parents=True)
    t0 = time.perf_counter()
    gen.generate(SF, str(SF_DIR), SF_GEN_SEED)
    rec["sf_gen_s"] = time.perf_counter() - t0
    MARKER.write_text(json.dumps(rec))
    return rec


# -- cell geometry (independent of the program; used by the oracle) --------

WGS84_A = 6378137.0
WGS84_E2 = 6.69437999014132e-3


def cell_area_m2(lat_top: float, px_lat: float, px_lon: float) -> float:
    """Ellipsoidal area of a parallel/meridian-bounded cell (Snyder eq. 3-12)."""
    e = math.sqrt(WGS84_E2)

    def q(phi_deg: float) -> float:
        s = math.sin(math.radians(phi_deg))
        return (1 - WGS84_E2) * (
            s / (1 - WGS84_E2 * s * s) - math.log((1 - e * s) / (1 + e * s)) / (2 * e)
        )

    return math.radians(px_lon) * WGS84_A**2 / 2 * (q(lat_top) - q(lat_top - px_lat))
