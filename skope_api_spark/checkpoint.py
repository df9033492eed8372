"""Lineage-pinning policy for iterative operators.

Iterative algorithms (PageRank, k-hop BFS, star-contraction duplicate
clustering, BPE merge training, k-means codebooks) must truncate plan
lineage every round or Catalyst re-analyzes an exponentially growing
tree. The repo's default is ``DataFrame.localCheckpoint`` — executor-
local blocks, zero external-storage dependency — which is exactly right
for ``local[N]`` and for small, cheaply recomputable intermediates.

At the 1000-executor design point it has one sharp edge:
``localCheckpoint`` is NOT fault-tolerant. Lineage is truncated, so
when an executor holding checkpointed blocks is lost mid-job, those
partitions are unrecoverable and the whole (long, iterative) job fails.
Graceful decommissioning (``spark.storage.decommission.*``, see the
cluster profile in PERF.md) migrates blocks off PLANNED departures,
but a crashed executor still kills the run.

``pin()`` is the policy seam: by default it delegates to
``localCheckpoint``; with ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` it
switches to ``DataFrame.checkpoint`` — reliable checkpointing to the
SparkContext checkpoint directory (HDFS/S3 on a real cluster), which
survives executor loss at the price of a distributed-filesystem write
per pin. Cluster deployments of long iterative jobs over big state
should enable it; everything else should not.

The checkpoint directory comes from (first match wins):

1. an already-set ``SparkContext.setCheckpointDir``
2. ``SPARK_GRAFT_CHECKPOINT_DIR`` (env)
3. a per-app directory under the JVM's ``java.io.tmpdir`` — a LOCAL
   path, acceptable only in the sandbox; a real cluster must set 1 or 2
   to shared storage, and Spark itself rejects non-distributed default
   dirs when running against a cluster manager.

Set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` on long
services so out-of-scope checkpoint files are reaped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["pin", "reliable_mode", "spread"]


def spread(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Raise map-side parallelism of an under-partitioned input.

    Fixture-scale corpora arrive as ONE parquet split, so every
    expression-heavy scan projection (deletion-variant explodes, chained
    BPE replaces, levenshtein verifies) runs in a single task while the
    rest of the machine idles. Round-robin repartition to the session's
    default parallelism spreads that CPU; the exchange moves only the
    fixture-sized input once. Scale-adaptive by construction: when the
    scan already has at least that many splits (any real-scale input),
    this is a no-op — it never coalesces.
    """
    target = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def reliable_mode() -> bool:
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1"


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return
    target = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not target:
        import tempfile

        target = os.path.join(
            tempfile.gettempdir(), f"skope_ckpt_{sc.applicationId}"
        )
    sc.setCheckpointDir(target)


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint`` by default,
    reliable ``checkpoint`` when ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``
    (see module docstring for when each is right)."""
    if reliable_mode():
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
