"""skope_api_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of openskope/skope-api, generalized to
arbitrary scale.

The reference (https://github.com/openskope/skope-api) serves zonal-statistic
time series extracted from (x, y, time) datacubes, with transforms (z-scores),
smoothers (moving averages) and summary statistics. This engine re-expresses
that workload — datacube scan → spatio-temporal filter → group-by-time
aggregation → window functions → scalar stats — as Spark SQL / DataFrame
plans, and adds the large-scale-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB training-data pipeline needs.

Layout:
- ``session``    — SparkSession factory tuned for the scale point.
- ``tables``     — TESTDATA star-schema loaders.
- ``plans``      — plan-time Python: interval algebra, band-padding planner,
                   dataset catalog.
- ``sources``    — cube ingestion (analytic fixture generator → Parquet long
                   table), GeoTIFF reader, lake provider.
- ``geometry``   — GeoJSON → cell predicates: affine index, pure-Python
                   all_touched rasterization, broadcast mask semi-join.
- ``operators``  — zonal stats, window smoothers/transforms, as-of join,
                   dedup (exact/MinHash/SimHash/clusters), similarity
                   (brute-force/LSH/IVF), text analysis, multimodal binary
                   stages, skew-safe aggregation, batched multi-query.
- ``api``        — pydantic request façade compiling to DataFrame plans;
                   single and batched execution.
- ``contract``   — the driver-contract query registry (queries + DuckDB
                   oracle SQL) assembled by ``__spark_entry__.py``.
"""

__version__ = "0.1.0"
