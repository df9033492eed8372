"""Approximate heavy hitters: distributed Misra-Gries summaries.

The frequent-items counterpart of the engine's GK-quantile and Count-Min
contracts. Exact top-k frequencies (groupBy + TakeOrdered) already scale —
the partial aggregate shuffles one row per DISTINCT item per partition.
Misra-Gries is for the regime where even the distinct-item set is too big
to shuffle (open-domain tokens, URLs, user agents at 100 TB): each input
partition is compressed to at most ``m`` counters BEFORE the shuffle, so
the exchange carries ≤ m rows per partition regardless of cardinality.

Algorithm (Misra & Gries 1982; merge analysis Agarwal et al. 2012, both
public):

- per Arrow batch, count exactly (the batch is in memory anyway), then
  *compress* to m counters: subtract the (m+1)-th largest count from all
  and drop the non-positive — the vectorized equivalent of MG's
  decrement loop, with per-batch undercount ≤ n_batch/(m+1);
- merged estimates are the plain SUM of partial counts per item (absent
  partials contribute 0), so the global estimate ĉ satisfies
  ``c(x) − n/(m+1) ≤ ĉ(x) ≤ c(x)``
  for EVERY partitioning of the input — the error bound is
  deterministic even though ĉ itself depends on the batch layout;
- any item with c(x) > n/(m+1) therefore survives with ĉ(x) > 0:
  guaranteed recall of true heavy hitters above the threshold.

The contract query verifies the realized bound against exact counts, the
same realized-accuracy pattern as ``quantile_approx_accuracy`` and
``sim_recall_report`` — the booleans are partitioning-independent, so the
cross-engine hash is stable even where the raw estimates are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_partials(df: DataFrame, col: str, *, counters: int) -> DataFrame:
    """Per-batch Misra-Gries summaries: (item, partial_count), at most
    ``counters`` rows per Arrow batch. Items are canonicalized to
    strings (the open-domain regime this targets is string-keyed; cast
    back at the edge if a typed item is needed)."""
    import pandas as pd

    if counters < 1:
        raise ValueError("counters must be >= 1")

    def compress(batches):
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            if not len(vc):
                continue
            if len(vc) > counters:
                t = vc.iloc[counters]  # (m+1)-th largest exact count
                vc = (vc - t)[lambda s: s > 0]
            yield pd.DataFrame(
                {"item": vc.index.astype(str), "partial_count": vc.values}
            )

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        compress, schema="item string, partial_count long"
    )


def mg_estimates(df: DataFrame, col: str, *, counters: int) -> DataFrame:
    """Merged Misra-Gries estimates: (item, est_count) for every
    surviving item (≤ counters × n_batches rows). ``est_count``
    undercounts by at most n/(counters+1) and never overcounts; items
    above that threshold are guaranteed present."""
    return (
        mg_partials(df, col, counters=counters)
        .groupBy("item")
        .agg(F.sum("partial_count").alias("est_count"))
    )
