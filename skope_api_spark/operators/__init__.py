"""Operator library — every module exposes composable DataFrame functions.

- ``windows``     — W1–W4 smoothers/z-scores, sessionize (reference §2.5)
- ``zonal``       — zonal mean/median, weighted mean, summary stats (A1–A7)
- ``asof``        — backward as-of join (union-merge, join-free plan)
- ``dedup``       — exact / MinHash-LSH / SimHash dedup, duplicate clusters
- ``similarity``  — brute-force / hyperplane-LSH / IVF cosine search
- ``text``        — quality stats, token counts, language-ID, fingerprints
- ``multimodal``  — binary media columns: decode/features/frames (Arrow)
- ``skew``        — salted two-phase aggregation for hot keys
- ``pipeline``    — the operators composed into a corpus-cleaning pipeline
"""

from skope_api_spark.operators.asof import asof_join
from skope_api_spark.operators.dedup import (
    duplicate_clusters,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
from skope_api_spark.operators.pipeline import clean_corpus, corpus_stats
from skope_api_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_topk,
    lsh_bucket_topk,
)
from skope_api_spark.operators.skew import salted_agg
from skope_api_spark.operators.text import (
    bottomk_fingerprint,
    langid_classify,
    quality_stats,
    token_counts,
)
from skope_api_spark.operators.windows import (
    centered_moving_average,
    fixed_interval_zscore,
    fixed_reference_zscore,
    rolling_zscore,
    sessionize,
    trailing_moving_average,
)
from skope_api_spark.operators.zonal import (
    summary_stats,
    weighted_zonal_series,
    zonal_series,
)

__all__ = [
    "asof_join",
    "bottomk_fingerprint",
    "brute_force_topk",
    "centered_moving_average",
    "clean_corpus",
    "corpus_stats",
    "duplicate_clusters",
    "embedding_near_duplicates",
    "exact_duplicate_groups",
    "fixed_interval_zscore",
    "fixed_reference_zscore",
    "ivf_topk",
    "langid_classify",
    "lsh_bucket_topk",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "quality_stats",
    "rolling_zscore",
    "salted_agg",
    "sessionize",
    "simhash_near_duplicates",
    "simhash_signatures",
    "summary_stats",
    "token_counts",
    "trailing_moving_average",
    "weighted_zonal_series",
    "zonal_series",
]
