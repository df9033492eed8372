"""Embedding similarity-search operators (array<float> columns).

Two paths, per the standard ANN playbook:

- **Brute-force cosine top-k** — exact baseline. The query set is broadcast
  (top-k is only ever asked for a bounded query batch); candidates stream
  through a broadcast-nested-loop join and the dot product runs JVM-side via
  ``zip_with``/``aggregate`` higher-order functions (no Python UDF, no
  per-row Python). Cost: O(|queries| · |corpus| · dim) FLOPs, embarrassingly
  parallel over corpus partitions — at 100 TB this is the scan-limited path.
- **Random-hyperplane LSH buckets** — scale path. Each vector gets a b-bit
  signature (sign of dot with b fixed ±1 hyperplanes); similar vectors
  collide. Candidate generation is an equi-join on the bucket id (hash
  shuffle, no cross join), then exact cosine re-ranks within buckets.

Hyperplanes are derived deterministically from md5 parity so any engine
(here: the DuckDB oracle) reproduces the same buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from skope_api_spark.checkpoint import pin, spread

DIM = 64
N_PLANES = 8


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (p, d) = parity of md5(p:d)."""
    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def cosine(va: Column, vb: Column) -> Column:
    """Cosine similarity of two array<float> columns, computed in double."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(va) * norm(vb))


def cosine_pandas_udf(dim: int = DIM):
    """Arrow-vectorized cosine kernel — the alternative to the JVM
    higher-order-function path, benchmarked in PERF.md.

    Batch semantics: both inputs arrive as pandas Series of lists; numpy
    stacks them and computes the whole batch in one einsum pass. Measured
    at 250k pairs × 64 dims (sf0.1): ~2× faster than the ``zip_with``/
    ``aggregate`` expressions once Python workers are warm (0.95 s vs
    1.98 s), slower cold (worker startup). Oracle-checked queries use the
    JVM path (sequential fold matches DuckDB bit-closer); bulk scoring
    pipelines should pass ``use_arrow=True`` to ``brute_force_topk``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # explicit returnType style: postponed annotations (PEP 563) stringify
    # type hints, which pandas_udf's hint inference cannot resolve here
    def _cos(a, b):
        va = np.stack(a.to_numpy()).astype("float64")
        vb = np.stack(b.to_numpy()).astype("float64")
        dots = np.einsum("ij,ij->i", va, vb)
        na = np.linalg.norm(va, axis=1)
        nb = np.linalg.norm(vb, axis=1)
        return pd.Series(dots / (na * nb))

    return pandas_udf(_cos, "double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    use_arrow: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Returns (query_id, neighbor_id, cosine_sim, rk). ``queries`` is
    broadcast — it must be a bounded batch, not a scale-proportional table.
    ``use_arrow`` switches the scoring kernel to the vectorized pandas UDF
    (~2× faster warm for bulk scoring; see ``cosine_pandas_udf``).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # spread the STREAMED side (r17): the broadcast-nested-loop scoring
    # stage's parallelism is the corpus side's partitioning, and a
    # fixture-sized parquet reads as ONE split — profiled as a single
    # 0.55 s-CPU task scoring every (query, candidate) pair while 31
    # cores idle (same class as the exact_cosine_pairs r15 fix). spread
    # never coalesces, so at real split counts it is a no-op.
    # Interleaved A/B at sf0.1: 0.72 s vs 0.87 s median, same rows.
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
    )
    kernel = cosine_pandas_udf() if use_arrow else cosine
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", kernel(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    out_col: str = "bucket",
) -> DataFrame:
    """b-bit random-hyperplane signature: bit p = 1 iff dot(v, plane_p) >= 0.

    Built as ONE SQL expression string (r16): the former per-plane Python
    construction created n_planes × dim py4j literal Columns plus eight
    fold trees per call site — measured ~2 s of driver-side construction
    and planning per lsh_bucket_topk invocation (two call sites) against
    0.5 s of total executor work. Parsing one string in the JVM is
    milliseconds; values are IDENTICAL (same cast-to-double multiply,
    same fold order, same double literals via shortest-repr round trip).
    """
    planes = planes if planes is not None else hyperplanes()

    def lit(x: float) -> str:
        return f"{x!r}D"

    dots = [
        "aggregate(zip_with(`%s`, array(%s), (a, b) -> CAST(a AS DOUBLE) * b), "
        "0.0D, (acc, x) -> acc + x)"
        % (vec_col, ", ".join(lit(x) for x in plane))
        for plane in planes
    ]
    sig = " + ".join(
        f"IF({dot} >= 0.0D, {1 << p}, 0)" for p, dot in enumerate(dots)
    )
    return df.withColumn(out_col, F.expr(f"CAST(({sig}) AS INT)"))


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then are
    exactly re-ranked by cosine. The candidate join is an equi-join on the
    bucket id — this is the 100 TB path (no cross join, shuffle on bucket).
    """
    qb = with_lsh_bucket(queries, vec_col=vec_col, planes=planes).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket"),
    )
    cb = with_lsh_bucket(corpus, vec_col=vec_col, planes=planes).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("bucket"),
    )
    scored = (
        cb.join(qb, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def label_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Element-wise mean vector per label — the IVF coarse codebook.

    (A full IVF trains centroids with k-means; with labeled data the class
    means are a deterministic stand-in with the same plumbing. Swapping in
    trained centroids changes only this function.)
    Returns (cell, centroid: array<double>).
    """
    ex = df.select(
        F.col(label_col).alias("cell"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    per_dim = ex.groupBy("cell", "pos").agg(F.avg("x").alias("m"))
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("centroid")
    )


def _codebook_row(cents: DataFrame) -> DataFrame:
    """One-row codebook: the (cell, centroid) table sorted by cell and
    collected into a single broadcast array column ``__cb``. Callers
    with several assignment sites over the SAME codebook (ivf_topk's
    corpus and query assigns) build this once so the collect job and
    broadcast are shared instead of re-derived per site."""
    return F.broadcast(
        cents.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
            ).alias("__cb")
        )
    )


def _fold_nearest(
    df: DataFrame,
    cents: DataFrame | None = None,
    *,
    vec_col: str,
    cb: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a MAP-ONLY fold over a broadcast
    codebook array (r16, guide §2.3/§2.4/§8 "decide with small rows"):
    the former ``crossJoin(broadcast(cents)) + groupBy(id).max_by`` form
    multiplied every corpus row k ways and then shuffled the ENTIRE
    corpus (id, vector) through a hash exchange to pick the argmax — at
    the 100 TB design point that is a full-corpus shuffle per k-means
    iteration / per IVF assignment. Collapsing the k-row codebook to ONE
    array row (broadcast) and folding over it computes the same argmax
    inside the row's projection: no row multiplication, no exchange;
    shuffle bytes drop from |corpus| rows to zero.

    Bit-identical to ``max_by(struct(cell, ...), struct(csim, -cell))``:
    each candidate's cosine is the same ``cosine()`` expression (same
    fold order, same doubles), scored ONCE per candidate by a
    ``transform`` over the codebook array (a lambda body gets no
    common-subexpression elimination, so the scoring must not appear
    inside a comparison that re-evaluates it), and the winner is
    ``array_max`` over ``struct(cs, -cell, ...)`` — the same total order
    the ``max_by`` STRUCT key used: highest cosine wins, ties break to
    the LOWEST cell (the oracle's ``ORDER BY cs DESC, cell ASC``), NaN
    sorts above every double, and a null cosine sorts as the SMALLEST
    value (struct ordering is nulls-first — the max_by key was a struct,
    never null, so null cosines were ordered, not ignored): it loses to
    any non-null candidate, and a row whose EVERY cosine is null falls
    through to the -cell tie-break — lowest cell, exactly like the old
    form (pinned by tests/test_fold_assignment.py). One row per INPUT
    row (ids are unique by the operators' input contract — the groupBy
    form's collapse of duplicate ids was an artifact of the join shape,
    mirrored by the oracles' PARTITION BY id).

    Adds ``__best`` = struct(cs, cell) to ``df``. Pass
    either ``cents`` (builds the codebook row here) or a prebuilt
    ``cb`` from ``_codebook_row`` to share one build across sites.
    """
    if cb is None:
        if cents is None:
            raise ValueError(
                "_fold_nearest: pass either cents (a (cell, centroid) "
                "table) or cb (a prebuilt _codebook_row frame)"
            )
        cb = _codebook_row(cents)

    def score(c):
        return F.struct(
            cosine(F.col(vec_col), c.getField("centroid")).alias("cs"),
            (-c.getField("cell")).alias("nc"),
            c.getField("cell").alias("cell"),
        )

    return (
        df.crossJoin(cb)
        # separate projections (not one expression tree): CollapseProject
        # keeps non-cheap producers apart, so the scored array and the
        # array_max scan each evaluate exactly once per row
        .withColumn("__scored", F.transform("__cb", score))
        .withColumn("__bm", F.array_max("__scored"))
        # EMPTY-codebook guard (r17, ADVICE r16): _codebook_row is a
        # global agg, so an empty cents table still yields one row whose
        # __cb is an empty array — array_max of it is null. The old
        # crossJoin+groupBy form emitted ZERO rows on an empty codebook;
        # keep that contract (a null-cell row would fabricate a bogus
        # null centroid downstream). A NON-empty codebook never produces
        # a null __bm: the scored structs themselves are non-null even
        # when every cosine inside is null.
        .where(F.col("__bm").isNotNull())
        .withColumn(
            "__best",
            F.struct(F.col("__bm.cs").alias("cs"), F.col("__bm.cell").alias("cell")),
        )
        .drop("__cb", "__scored", "__bm")
    )


def kmeans_centroids(
    df: DataFrame,
    *,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means codebook (the real IVF trainer).

    - **Seeds**: the ``n_cells`` vectors with the smallest md5(id) — a
      deterministic uniform sample any engine reproduces (no RNG state).
      Selected with ``orderBy().limit(n_cells)`` (a distributed
      TakeOrderedAndProject: per-partition top-n, tiny merge) before the
      cell-numbering window, so the window sees only n_cells rows — NOT
      a global window over the corpus, which would funnel everything
      through one partition.
    - **Iterate**: assign every vector to its max-cosine centroid
      (broadcast codebook + ``groupBy(max_by)`` — map-side partial
      aggregation, no sort-shuffle of the N×k scored rows), then
      recompute element-wise means (posexplode → two aggregations).
    - **Bit-stability**: each centroid component is ROUNDed to 6 decimals
      after every update, so cross-engine float accumulation-order noise
      (~1e-15) cannot flip a later assignment — the DuckDB oracle replays
      the identical iteration trajectory.

    Per iteration: one broadcast of k×dim doubles + two aggregations; the
    codebook is pinned (``checkpoint.pin``) so iteration N+1's plan does not
    re-execute iteration N (same lineage-truncation pattern as the
    duplicate-cluster propagation). Returns (cell, centroid).
    """
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    seed_order = F.md5(F.col("vec_id").cast("string"))
    # limit() first: a distributed TakeOrderedAndProject reduces the corpus
    # to n_cells rows; the global window then numbers only those n_cells
    # rows (bounded, single tiny partition by construction).
    cents = (
        vecs.orderBy(seed_order, "vec_id")
        .limit(n_cells)
        .withColumn("__rk", F.row_number().over(W.orderBy(seed_order, "vec_id")))
        .select(
            (F.col("__rk") - 1).cast("int").alias("cell"),
            F.col("v").alias("centroid"),
        )
    )
    cents = pin(cents)
    for _ in range(iters):
        # assignment is a map-only fold over the broadcast codebook
        # array (r16, _fold_nearest): the former crossJoin + groupBy
        # (max_by) shuffled the whole corpus per iteration
        assigned = _fold_nearest(vecs, cents, vec_col="v").select(
            "vec_id", "v", F.col("__best.cell").alias("cell")
        )
        per_dim = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cents = pin(
            per_dim.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid (max
    cosine), probe the query's ``nprobe`` nearest cells, exact re-rank.

    Centroids are a tiny broadcast codebook — pass a trained one
    (``kmeans_centroids``) or default to the label-mean stand-in;
    assignment is a broadcast nested-loop over ~n_cells rows per vector
    (cheap); the candidate join is an equi-join on the cell id — same
    scale shape as the LSH path with a data-adaptive quantizer instead of
    random hyperplanes. ``nprobe`` is the standard IVF recall dial: the
    QUERY side fans out to its ``nprobe`` best cells (queries are a
    bounded batch, so the fan-out is bounded too — corpus rows are always
    assigned to exactly one cell); recall rises toward brute force as
    nprobe → n_cells at nprobe× candidate cost. ``sim_recall_report``
    measures it.
    """
    cents = (
        centroids
        if centroids is not None
        else label_centroids(corpus, vec_col=vec_col, label_col=label_col)
    )

    # one codebook row shared by the corpus AND query assigns (the
    # collect job + broadcast build happen once, not per site)
    cbrow = _codebook_row(cents)

    def assign(df: DataFrame, idc: str) -> DataFrame:
        # nearest centroid as a map-only fold over the broadcast codebook
        # array (r16, _fold_nearest): the former crossJoin + groupBy
        # (max_by) shuffled the whole corpus through a hash exchange per
        # assignment. Tie-break (max cosine, then min cell) matches the
        # oracle's ORDER BY cs DESC, cell ASC exactly.
        return _fold_nearest(df, vec_col=vec_col, cb=cbrow).select(
            idc, vec_col, F.col("__best.cell").alias("cell")
        )

    def assign_topn(df: DataFrame, idc: str, n: int) -> DataFrame:
        # query-side multi-probe: top-n cells per query. The window runs
        # over the bounded query batch only (never the corpus).
        scored = df.crossJoin(F.broadcast(cents)).withColumn(
            "__csim", cosine(F.col(vec_col), F.col("centroid"))
        )
        w = W.partitionBy(idc).orderBy(F.desc("__csim"), "cell")
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= n)
            .select(idc, vec_col, "cell")
        )

    q_sel = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    qa = (
        assign(q_sel, "query_id")
        if nprobe <= 1
        else assign_topn(q_sel, "query_id", nprobe)
    ).select("query_id", F.col(vec_col).alias("q_vec"), "cell")
    ca = assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id",
    ).select("neighbor_id", F.col(vec_col).alias("c_vec"), "cell")

    scored = (
        ca.join(qa, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Bucketed embedding near-dup pairs: same LSH bucket AND cosine >= t.

    The bucket equi-join bounds the pair space; the exact cosine filter makes
    the output deterministic. (Pairs in different buckets are by definition
    not reported — the operator's contract is bucket-local, which is what a
    100 TB dedup run does; the oracle applies the identical definition.)
    """
    b = with_lsh_bucket(df, vec_col=vec_col, planes=planes).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), "bucket"
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .withColumn("cosine_sim", cosine(F.col("a.vec"), F.col("b.vec")))
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            "cosine_sim",
        )
    )


def exact_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Exact all-pairs cosine near-dup baseline — documented QUADRATIC.

    O(N²) pair space with no bucketing: this is the ground-truth oracle the
    bucketed/multiprobe paths are measured against (``ann_recall_report``),
    same role the exact n-gram Jaccard baseline plays for MinHash. Never
    the 100 TB path — run it on samples/fixtures only.

    Even a fixture-scale baseline must DISTRIBUTE its quadratic work
    (r15): the inequality self-join is a BroadcastNestedLoopJoin whose
    parallelism is the STREAMED side's partitioning, and a small parquet
    reads as ONE partition — at sf1 that put all 32M pairs in a single
    task (the documented 30+ min stall behind the sf1 sweep exclusion).
    Broadcasting the build side explicitly (vectors are a few MB at any
    fixture SF) and round-robin repartitioning the streamed side fans
    the same pair space across every core: wall-clock /cores, plan
    unchanged in kind (still the exact all-pairs baseline by design).

    The explicit ``F.broadcast`` bypasses autoBroadcastJoinThreshold, so
    a guard (r16, ADVICE r15) refuses corpora over ``max_broadcast_rows``
    with a clear error instead of a silent driver/executor OOM — at that
    size the quadratic baseline is the wrong tool regardless; use the
    bucketed/LSH/IVF paths and sample-based recall instead.
    """
    # pin the projected vector table ONCE (r17, VERDICT r16 item 9): the
    # guard count, the broadcast build, and the streamed side each
    # evaluated the upstream df — three full scans per invocation. One
    # eager localCheckpoint of the (id, vec) projection makes the count
    # a cached-block job and both join sides read the pin; the explicit
    # F.broadcast below stays authoritative, so the checkpoint's unknown
    # size estimate cannot demote the join (the pagerank trap). An
    # OVER-cap corpus now materializes (MEMORY_AND_DISK — spills, never
    # OOMs) before the guard raises: a bounded detour on the misuse
    # path, accepted to keep the documented small-corpus happy path at
    # exactly one scan.
    b = pin(df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")))
    n = b.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"exact_cosine_pairs: {n} vectors exceeds max_broadcast_rows="
            f"{max_broadcast_rows}; the all-pairs baseline broadcasts the "
            "full vector table and is quadratic by design — run it on a "
            "sample, or use lsh_bucket_topk / ivf_topk / "
            "embedding_near_duplicates for corpus-scale similarity"
        )
    par = df.sparkSession.sparkContext.defaultParallelism
    a, c = b.repartition(par).alias("a"), b.alias("b")
    return (
        a.join(F.broadcast(c), F.col("a.vid") < F.col("b.vid"))
        .withColumn("cosine_sim", cosine(F.col("a.vec"), F.col("b.vec")))
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            "cosine_sim",
        )
    )


def _recall_row(
    method: str, k: int, approx: DataFrame, exact: DataFrame, keys: list[str]
) -> DataFrame:
    """One (method, k, n_hits, n_exact, recall) row: |approx ∩ exact| / |exact|."""
    hits = (
        approx.select(*keys)
        .join(exact.select(*keys), keys)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(tot).select(
        F.lit(method).alias("method"),
        F.lit(k).alias("k"),
        "n_hits",
        "n_exact",
        # try_divide: an empty corpus has n_exact = 0 and a plain
        # division is an ANSI job failure; NULL recall is the right
        # empty answer (DuckDB x/0 is NULL too)
        F.round(F.try_divide("n_hits", "n_exact"), 6).alias("recall"),
    )


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    pair_threshold: float = 0.25,
) -> DataFrame:
    """Measured recall of every approximate ANN/near-dup path vs its exact
    baseline — the quality dial for tuning plane counts / probe tables.

    Two families, one report:

    - **top-k set recall** (k from the arg): ``lsh_bucket_topk`` (8-plane),
      ``ivf_topk`` (label codebook) and ``ivf_topk`` with the trained
      ``kmeans_centroids`` codebook, each scored as
      |approx_topk ∩ exact_topk| / |exact_topk| against
      ``brute_force_topk`` over the same query set.
    - **pair recall** (k reported as 0): bucketed near-dup at 8 and 16
      planes and the 2×16 multiprobe union, each scored against the exact
      quadratic ``exact_cosine_pairs`` at ``pair_threshold``.

    Plus the hard-negative pair: ``hard_negative_mining_bucketed``
    (2 tables × 8 planes, the corpus-scale path) scored against the
    broadcast-anchor brute ``hard_negative_mining`` over the same
    anchors — the recall dial for swapping the brute path out when the
    anchor set outgrows a broadcast. Both use ``label_col``; when either
    input lacks that column the two hardneg rows are skipped and the
    label-free rows still report (r15 ADVICE guard).

    All paths are deterministic (md5 hyperplanes / md5 k-means seeds), so
    the recall numbers themselves are reproducible cross-engine — the
    DuckDB oracle replays this whole report bit-for-bit.

    Returns (method, k, n_hits, n_exact, recall), one row per method.
    """
    key_qn = ["query_id", "neighbor_id"]
    key_pp = ["vec_a", "vec_b"]
    kw = dict(id_col=id_col, vec_col=vec_col)

    # Both exact baselines are referenced by several union arms; Spark has
    # no cross-arm common-subexpression reuse, so truncate their lineage
    # once (lazy localCheckpoint) instead of recomputing the quadratic
    # baseline per recall row. Both are bounded: |queries|·k and the
    # threshold-filtered pair set.
    exact_topk = brute_force_topk(corpus, queries, k=k, **kw).localCheckpoint(
        eager=False
    )
    exact_pairs = exact_cosine_pairs(
        corpus, threshold=pair_threshold, **kw
    ).localCheckpoint(eager=False)
    kmeans_cb = kmeans_centroids(corpus, n_cells=8, iters=2, id_col=id_col, vec_col=vec_col)

    rows = [
        _recall_row(
            "topk_lsh_bucket_8p", k,
            lsh_bucket_topk(corpus, queries, k=k, planes=hyperplanes(8), **kw),
            exact_topk, key_qn,
        ),
        _recall_row(
            "topk_ivf_kmeans", k,
            ivf_topk(corpus, queries, k=k, centroids=kmeans_cb, **kw),
            exact_topk, key_qn,
        ),
        _recall_row(
            "topk_ivf_kmeans_p2", k,
            ivf_topk(corpus, queries, k=k, centroids=kmeans_cb, nprobe=2, **kw),
            exact_topk, key_qn,
        ),
        _recall_row(
            "pairs_neardup_4p", 0,
            embedding_near_duplicates(
                corpus, threshold=pair_threshold, planes=hyperplanes(4), **kw
            ),
            exact_pairs, key_pp,
        ),
        _recall_row(
            "pairs_neardup_8p", 0,
            embedding_near_duplicates(
                corpus, threshold=pair_threshold, planes=hyperplanes(8), **kw
            ),
            exact_pairs, key_pp,
        ),
        _recall_row(
            "pairs_neardup_16p", 0,
            embedding_near_duplicates(
                corpus, threshold=pair_threshold, planes=hyperplanes(16), **kw
            ),
            exact_pairs, key_pp,
        ),
        _recall_row(
            "pairs_multiprobe_2x16", 0,
            embedding_near_duplicates_multiprobe(
                corpus, threshold=pair_threshold, n_tables=2,
                planes_per_table=16, **kw
            ),
            exact_pairs, key_pp,
        ),
        _recall_row(
            "pairs_multiprobe_4x8", 0,
            embedding_near_duplicates_multiprobe(
                corpus, threshold=pair_threshold, n_tables=4,
                planes_per_table=8, **kw
            ),
            exact_pairs, key_pp,
        ),
    ]
    # The label-codebook IVF row needs labels on the corpus side only
    # (queries probe by nearest centroid, not by label).
    if label_col in corpus.columns:
        rows.insert(1, _recall_row(
            "topk_ivf_label", k,
            ivf_topk(
                corpus, queries, k=k, label_col=label_col, **kw
            ),
            exact_topk, key_qn,
        ))
    # Hard-negative rows need labels on BOTH sides; label-free inputs
    # (every other recall row works without one) skip them rather than
    # fail the whole report (r15 ADVICE).
    if label_col in corpus.columns and label_col in queries.columns:
        hn_exact = hard_negative_mining(
            corpus, queries, k=k, label_col=label_col, **kw
        ).localCheckpoint(eager=False)
        rows += [
            _recall_row(
                "hardneg_bucketed_2x8", k,
                hard_negative_mining_bucketed(
                    corpus, queries, k=k, n_tables=2, planes_per_table=8,
                    label_col=label_col, **kw
                ),
                hn_exact, ["anchor_id", "neighbor_id"],
            ),
            _recall_row(
                "hardneg_bucketed_4x4", k,
                hard_negative_mining_bucketed(
                    corpus, queries, k=k, n_tables=4, planes_per_table=4,
                    label_col=label_col, **kw
                ),
                hn_exact, ["anchor_id", "neighbor_id"],
            ),
        ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def embedding_near_duplicates_multiprobe(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_tables: int = 2,
    planes_per_table: int = 16,
) -> DataFrame:
    """OR-of-ANDs near-dup: union of ``n_tables`` independent bucket tables.

    The production recall shape for narrow (high-plane-count) buckets: a
    pair is a candidate if it collides in ANY table, so recall approaches
    1−(1−p^b)^k while each table's candidate set stays ~N²/2^(b+1). The
    tables use disjoint slices of the deterministic hyperplane family, so
    any engine (the DuckDB oracle included) reproduces them exactly.
    Candidate cost is k× one table; the final ``dropDuplicates`` merges
    pairs found by several tables (same Jaccard-banding OR-construction as
    MinHash LSH — Broder et al.'s scheme applied to sign-random-projection
    buckets).
    """
    all_planes = hyperplanes(n_tables * planes_per_table)
    out = None
    for t in range(n_tables):
        table = all_planes[t * planes_per_table : (t + 1) * planes_per_table]
        part = embedding_near_duplicates(
            df,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            planes=table,
        )
        out = part if out is None else out.unionByName(part)
    return out.dropDuplicates(["vec_a", "vec_b"])


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    tau: float = 0.35,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication via k-means
    clustering + within-cluster cosine pruning. Cluster the embedding
    space with the trained ``kmeans_centroids`` codebook, compare pairs
    ONLY within a cluster, and drop every vector that has a
    cosine ≥ ``tau`` neighbor with a smaller id in its cluster (keeping
    the min-id representative of each semantic-duplicate group —
    deterministic where the paper keeps a random member).

    Scale shape: the cluster assignment is a broadcast-codebook
    ``groupBy(max_by)`` (map-side partial agg, one shuffle of
    (id, vec, cell)); the pairwise step is an equi-join on the cell id —
    O(Σ cell²) not O(N²), and at 100 TB ``n_cells`` is chosen ∝ N (the
    paper uses ~100k clusters for LAION-scale) so cells stay bounded.
    Never an all-pairs join.

    Returns (vec_id, cell, kept) for every input vector, ``kept = false``
    iff the vector is pruned as a semantic duplicate.
    """
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            df, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    )
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    # map-only fold assignment (r16, _fold_nearest): the former crossJoin
    # + groupBy(max_by) shuffled every (id, vector) row once just to pick
    # the argmax cell
    assigned = _fold_nearest(vecs, cents, vec_col="v").select(
        "vec_id", "v", F.col("__best.cell").alias("cell")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cosine(F.col("a.v"), F.col("b.v")) >= tau)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("__drop", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
    )


# --- Product quantization (PQ/ADC) -------------------------------------------


def pq_codebooks(
    df: DataFrame,
    *,
    m: int = 8,
    dim: int = DIM,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-subspace PQ codebooks ``(j, cell, centroid: array<double>)``.

    The vector splits into ``m`` contiguous subspaces of ``dim/m``
    components; each subspace gets its own small codebook. Cells are the
    label means per subspace — the same deterministic, SQL-mirrorable
    stand-in ``label_centroids`` uses for IVF; a production deployment
    swaps in ``kmeans_centroids`` per subspace through the same seam
    (only this function changes). Centroid components ROUND to 6 decimals
    so cross-engine AVG accumulation-order noise cannot flip a later
    nearest-cell assignment (same discipline as ``kmeans_centroids``).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    ex = df.select(
        F.col(label_col).alias("cell"),
        F.posexplode(
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
        ).alias("pos", "x"),
    ).select(
        "cell",
        (F.col("pos") / d).cast("int").alias("j"),
        F.pmod(F.col("pos"), F.lit(d)).alias("si"),
        "x",
    )
    per = ex.groupBy("cell", "j", "si").agg(F.round(F.avg("x"), 6).alias("m"))
    return per.groupBy("j", "cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("si", "m"))), lambda s: s.m
        ).alias("centroid")
    )


def _subvectors(
    df: DataFrame, *, m: int, dim: int, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    d = dim // m
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
    ).select(
        out_id, "j", F.slice("__v", F.col("j") * d + 1, d).alias("sv")
    )


def _ssd(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns, folded in
    fixed element order (matches the oracle's sequential sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_nearest_code(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Per-subspace nearest-cell assignment as a map-only fold (r16,
    same shape as ``_fold_nearest``): the former
    ``join(broadcast(codebooks), "j") + groupBy(vec_id, j).min_by``
    multiplied every exploded subvector row k ways and shuffled the
    whole N×m subvector table through a hash exchange to pick the
    argmin. Each subspace's codebook now collapses to one sorted array
    row keyed by ``j`` (an m-row broadcast join — map-side), and each
    subvector row scores it with a ``transform`` (one ``_ssd`` per
    candidate) and takes ``array_min`` over ``struct(ssd, cell)`` — the
    exact order of the ``min_by`` STRUCT key: lowest squared-L2 wins,
    ties to the lowest cell, and a null distance (null subvector) sorts
    as the SMALLEST value (struct ordering is nulls-first) so it wins
    the min with ties to the lowest cell — exactly like the old form,
    whose min_by key was a struct and therefore never null: null
    distances were ORDERED, not ignored (pinned by
    tests/test_fold_assignment.py). One output row per input (vec, j)
    row, with ``cell`` attached and ``sv`` preserved.
    """
    cbj = F.broadcast(
        codebooks.groupBy("j").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
            ).alias("__cb")
        )
    )
    return (
        subs.join(cbj, "j")
        .withColumn(
            "__scored",
            F.transform(
                "__cb",
                lambda c: F.struct(
                    _ssd(F.col("sv"), c.getField("centroid")).alias("ssd"),
                    c.getField("cell").alias("cell"),
                ),
            ),
        )
        .withColumn("__bm", F.array_min("__scored"))
        .withColumn("cell", F.col("__bm.cell"))
        .drop("__cb", "__scored", "__bm")
    )


def pq_assign_codes(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    m: int = 8,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding ``(vec_id, j, cell)`` — each vector compresses to m
    small cell ids (m bytes at k ≤ 256), the representation the ADC scan
    reads INSTEAD of raw vectors. Nearest cell by squared L2, ties to
    the lowest cell id, computed as a map-only fold over the per-subspace
    broadcast codebook (``_fold_nearest_code``) — no shuffle of the
    subvector table."""
    subs = _subvectors(
        df, m=m, dim=dim, id_col=id_col, vec_col=vec_col, out_id="vec_id"
    )
    return _fold_nearest_code(subs, codebooks).select("vec_id", "j", "cell")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    m: int = 8,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011 — public).

    The 100 TB shape: the corpus is scanned as CODES (m cells/vector ≈ m
    bytes, a 32x compression at dim=64/float32), never as raw vectors;
    each query precomputes a lookup table of its subvector's distance to
    every (subspace, cell) — m × k doubles, broadcast — and the
    approximate distance is the sum of m LUT entries selected by the
    neighbor's code. Here the LUT select is an equi-join
    codes ⋈ broadcast(LUT) on (j, cell) followed by one
    partial-aggregated sum — no per-row Python, no NL join against raw
    vectors. Ranking rounds the ADC distance to 6 decimals so float
    summation-order noise cannot flip a rank (ties then break on
    neighbor_id, matching the oracle).

    Returns (query_id, neighbor_id, approx_dist, rk ≤ k) — approximate by
    construction; measure recall against ``brute_force_topk`` (the
    pq-recall row in ``ann_recall_report`` extensions or tests).

    ``codebooks`` defaults to the SQL-mirrorable label means; pass
    ``pq_kmeans_codebooks(...)`` for the trained variant (recall numbers
    in its docstring) — only the codebook build changes.
    """
    cb = (
        codebooks
        if codebooks is not None
        # pin (r16): the codebook feeds TWO explicit broadcasts (the
        # code-assignment join and the query LUT join) and each build
        # re-ran the m-way corpus explode + double groupBy; one
        # materialization of the m x k tiny table serves both. Explicit
        # F.broadcast hints stay authoritative, so the checkpoint's
        # unknown size estimate cannot demote any join.
        else pin(
            pq_codebooks(
                corpus, m=m, dim=dim, vec_col=vec_col, label_col=label_col
            )
        )
    )
    codes = pq_assign_codes(
        corpus, cb, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    )
    qsubs = _subvectors(
        queries, m=m, dim=dim, id_col=id_col, vec_col=vec_col, out_id="query_id"
    )
    lut = qsubs.join(F.broadcast(cb), "j").select(
        "query_id",
        "j",
        "cell",
        _ssd(F.col("sv"), F.col("centroid")).alias("part"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("part"), 6).alias("approx_dist"))
    )
    w = W.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rk")
    )


def pq_kmeans_codebooks(
    df: DataFrame,
    *,
    m: int = 32,
    n_cells: int = 32,
    iters: int = 1,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd-trained PQ codebooks (the REAL PQ trainer).

    Same determinism discipline as ``kmeans_centroids``: seeds are the
    ``n_cells`` vectors with the smallest md5(id) (one shared seed set,
    each contributing its subvector to every subspace's codebook),
    assignment is squared-L2 ``min_by`` with (ssd, cell) tie-break, and
    centroid updates ROUND to 6 decimals so any engine replays the exact
    iteration trajectory. One broadcast of m x n_cells tiny rows plus two
    aggregations per iteration.

    Measured on the 10-cluster testdata (PERF.md r07): label-mean
    codebooks (m=8) reach recall@10 = 0.13 vs brute force — cluster-mates
    collide onto identical codes; trained codebooks at m=32, n_cells=32
    reach 0.71 ADC-only and 0.99 with the shortlist rerank
    (``pq_topk_rerank``).
    """
    subs = _subvectors(
        df, m=m, dim=dim, id_col=id_col, vec_col=vec_col, out_id="vec_id"
    )
    seed_order = F.md5(F.col(id_col).cast("string"))
    seeds = (
        df.select(F.col(id_col))
        .orderBy(seed_order, id_col)
        .limit(n_cells)
        .withColumn(
            "cell",
            (F.row_number().over(W.orderBy(seed_order, id_col)) - 1).cast(
                "int"
            ),
        )
        .select(F.col(id_col).alias("vec_id"), "cell")
    )
    cents = (
        subs.join(F.broadcast(seeds), "vec_id")
        .select("j", "cell", F.col("sv").alias("centroid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # map-only fold assignment (r16, _fold_nearest_code): the former
        # broadcast join + groupBy(vec_id, j).min_by shuffled the whole
        # N×m subvector table per iteration
        assigned = _fold_nearest_code(subs, cents).select("j", "cell", "sv")
        per = (
            assigned.select("j", "cell", F.posexplode("sv").alias("si", "x"))
            .groupBy("j", "cell", "si")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cents = (
            per.groupBy("j", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("si", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
            .localCheckpoint(eager=True)
        )
    return cents


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    shortlist: int = 50,
    m: int = 32,
    n_cells: int = 32,
    iters: int = 1,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """The production PQ shape: ADC shortlist → exact cosine re-rank.

    Stage 1 scans only the m-byte PQ codes (the compressed corpus) and
    keeps the ``shortlist`` best ADC candidates per query; stage 2
    fetches raw vectors for ONLY those |queries| x shortlist rows and
    re-ranks them by exact cosine. At 100 TB: the full-corpus pass reads
    ~m bytes/vector instead of 4·dim, and the expensive exact math runs
    on a bounded candidate set (an equi-join on neighbor_id — no NL).
    Recall@10 measured at 0.99 vs brute force (PERF.md r07).

    Returns (query_id, neighbor_id, cosine_sim, rk ≤ k).
    """
    cb = (
        codebooks
        if codebooks is not None
        else pq_kmeans_codebooks(
            corpus,
            m=m,
            n_cells=n_cells,
            iters=iters,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        )
    )
    sl = pq_topk(
        corpus,
        queries,
        k=shortlist,
        m=m,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        codebooks=cb,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    rer = (
        sl.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cosine_sim", cosine(F.col("__qv"), F.col("__nv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        rer.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


# --- int8 scalar quantization (SQ8) --------------------------------------


def sq_bounds(
    corpus: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension min/max training for scalar quantization, as ONE row
    of aligned arrays (mn_arr, mx_arr) so encode/score stay array ops.

    posexplode -> groupBy(pos) is the scale path: partial aggregation
    collapses the per-partition explode to d rows before the shuffle, so
    the exchange carries d keys regardless of corpus size.
    """
    dims = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    packed = dims.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("d")
    )
    return packed.select(
        F.transform("d", lambda s: s["mn"]).alias("mn_arr"),
        F.transform("d", lambda s: s["mx"]).alias("mx_arr"),
    )


def sq_encode(
    corpus: DataFrame,
    bounds: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit codes: code_i = clamp(floor((x_i - mn_i) * 256 / (mx_i - mn_i)),
    0, 255); a constant dimension (mx == mn) codes to 0. Returns
    (vec_id, codes array<int>) — a 64-dim float vector shrinks 4x->8x
    depending on source width; at 100 TB the code table IS the index.
    """
    enc = corpus.crossJoin(F.broadcast(bounds))
    rng = F.zip_with(
        F.col("mx_arr"), F.col("mn_arr"), lambda a, b: a - b
    )
    shifted = F.zip_with(
        F.col(vec_col), F.col("mn_arr"), lambda x, m: x.cast("double") - m
    )
    codes = F.zip_with(
        shifted,
        rng,
        lambda s, r: F.when(r > 0.0, F.least(
            F.lit(255.0), F.greatest(F.lit(0.0), F.floor(s * 256.0 / r))
        )).otherwise(F.lit(0.0)).cast("int"),
    )
    return enc.select(F.col(id_col).alias("vec_id"), codes.alias("codes"))


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 32,
) -> DataFrame:
    """SQ8 ANN: shortlist by approximate dot product against bin-center
    reconstructions (mn_i + (code_i + 0.5) * step_i), exact-cosine rerank.

    The corpus-sized scan touches only the int8 code table (plus bounds
    broadcast); raw vectors are read for |queries| x shortlist rows in the
    rerank join. Shortlist ranking uses the 6-dp rounded approximate dot
    (then neighbor id) so the candidate set is reproducible cross-engine.
    """
    bounds = sq_bounds(corpus, vec_col=vec_col)
    codes = sq_encode(corpus, bounds, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    scored = (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("vec_id"))
        .crossJoin(F.broadcast(bounds))
    )
    step = F.zip_with(
        F.col("mx_arr"), F.col("mn_arr"), lambda a, b: (a - b) / 256.0
    )
    centered = F.zip_with(
        F.col("codes"), step, lambda c, s: (c.cast("double") + 0.5) * s
    )
    recon = F.zip_with(centered, F.col("mn_arr"), lambda t, m: t + m)
    approx = F.aggregate(
        F.zip_with(F.col("__qv"), recon, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wsl = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__approx"), 6)), "vec_id"
    )
    sl = (
        scored.withColumn("__approx", approx)
        .withColumn("__rk", F.row_number().over(wsl))
        .where(F.col("__rk") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv2")
    )
    rer = (
        sl.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cosine_sim", cosine(F.col("__qv2"), F.col("__nv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        rer.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Contrastive-training hard negatives: for each anchor, the top-k
    most-similar corpus vectors with a DIFFERENT label — the pairs a
    retrieval/embedding model most needs to push apart.

    Same plan family as ``brute_force_topk`` (bounded anchor batch
    broadcast into the corpus scan, JVM-side cosine, per-anchor top-k);
    the label inequality is applied BEFORE scoring so mismatched pairs
    never rank. For corpus-scale anchor sets, swap the broadcast for the
    bucketed LSH candidate join exactly as in ``lsh_bucket_topk``.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__av"),
        F.col(label_col).alias("anchor_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .where(F.col("anchor_label") != F.col("neighbor_label"))
        .withColumn("cosine_sim", cosine(F.col("__av"), F.col("__cv")))
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select(
            "anchor_id",
            "rk",
            "neighbor_id",
            "cosine_sim",
            "anchor_label",
            "neighbor_label",
        )
    )


def hard_negative_mining_bucketed(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_tables: int = 4,
    planes_per_table: int = 4,
) -> DataFrame:
    """Corpus-scale hard-negative mining (the r13-verdict gap): the brute
    path above broadcasts the whole anchor set into every executor, which
    stops building once anchors are corpus-scale. This variant routes
    BOTH sides through the deterministic multiprobe LSH bucket family
    (OR of ``n_tables`` disjoint slices of the shared hyperplane family —
    the same construction as ``embedding_near_duplicates_multiprobe``):
    candidates are an EQUI-join on (table, bucket), so corpus and
    anchors both shuffle by bucket id — nothing broadcasts, nothing goes
    all-pairs, and the label inequality still prunes before scoring.
    Exact cosine re-rank on the pair-deduped candidates, per-anchor
    top-k — same output contract as ``hard_negative_mining``.

    Approximate where the brute path is exact: a hard negative that
    collides with its anchor in NO table is missed. UNLIKE near-dup
    mining, hard negatives sit at MODERATE cosine (the nearest
    different-label vector, not a copy), so narrow near-dup buckets
    starve recall — measured on the sf0.01 embeddings vs brute:
    2×8 → 0.03, 2×6 → 0.13, 4×6 → 0.27, 2×4 → 0.43, **4×4 → 0.67**
    (candidate fraction T/2^b of all-pairs: 0.008 → 0.25). The 4×4
    default buys the knee of that curve; both the near-dup-style 2×8
    and the default are driver-verified rows of ``ann_recall_report``
    (``hardneg_bucketed_2x8`` / ``hardneg_bucketed_4x4``), so the
    trade stays a measured dial, not a guess.
    """
    all_planes = hyperplanes(n_tables * planes_per_table)

    def _tables(df: DataFrame, ida: str, veca: str, laba: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(ida),
            F.col(vec_col).alias(veca),
            F.col(label_col).alias(laba),
        )
        structs = []
        for t in range(n_tables):
            sl = all_planes[t * planes_per_table : (t + 1) * planes_per_table]
            out = with_lsh_bucket(out, vec_col=veca, planes=sl, out_col=f"__b{t}")
            structs.append(
                F.struct(
                    F.lit(t).alias("tbl"), F.col(f"__b{t}").alias("bucket")
                )
            )
        return out.withColumn("__tb", F.explode(F.array(*structs))).select(
            ida, veca, laba,
            F.col("__tb.tbl").alias("tbl"),
            F.col("__tb.bucket").alias("bucket"),
        )

    a = _tables(anchors, "anchor_id", "__av", "anchor_label")
    c = _tables(corpus, "neighbor_id", "__cv", "neighbor_label")
    cand = (
        c.join(a, ["tbl", "bucket"])
        .where(F.col("anchor_label") != F.col("neighbor_label"))
        .withColumn("cosine_sim", cosine(F.col("__av"), F.col("__cv")))
        .select(
            "anchor_id", "neighbor_id", "cosine_sim",
            "anchor_label", "neighbor_label",
        )
        # a pair colliding in several tables scores identically each
        # time; dedup before ranking so it occupies one rank, not many
        .dropDuplicates(["anchor_id", "neighbor_id"])
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select(
            "anchor_id",
            "rk",
            "neighbor_id",
            "cosine_sim",
            "anchor_label",
            "neighbor_label",
        )
    )


def embedding_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    best cosine against ANY benchmark/eval probe meets ``threshold`` —
    the semantic cousin of the n-gram decontaminator
    (text.py:decontaminate), catching paraphrased eval leakage that
    token overlap misses.

    Plan: the probe set is an eval benchmark — bounded by construction —
    so it broadcasts into the corpus scan (BroadcastNestedLoopJoin over
    a bounded build, same family as ``brute_force_topk``); the per-corpus
    argmax is ONE max-struct aggregation (no window sort), keyed
    (cosine, -probe_id) so exact ties break to the smallest probe. The
    corpus never shuffles beyond its own id-keyed aggregation. For
    probe sets too large to broadcast, route through the sign-random-
    projection bucket join (``embedding_near_duplicates``) instead.
    """
    p = probes.select(
        F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pv")
    )
    c = corpus.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias("__cv")
    )
    scored = c.crossJoin(F.broadcast(p)).withColumn(
        "__cs", cosine(F.col("__pv"), F.col("__cv"))
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("__cs").alias("cs"), (-F.col("__pid")).alias("np"))
        ).alias("__m")
    )
    return best.select(
        id_col,
        (-F.col("__m.np")).cast("long").alias("best_probe"),
        F.col("__m.cs").alias("best_cos"),
        (F.col("__m.cs") >= threshold).alias("contaminated"),
    )
