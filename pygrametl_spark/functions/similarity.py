"""Similarity search over embedding columns (array<float>).

Net-new surface for training-data pipelines. Two tiers:

- **Brute-force cosine** (baseline, oracle-checked): the dot product is
  one ``zip_with``/``aggregate`` expression — JVM-side, codegen'd,
  sequential left-to-right accumulation so DuckDB can reproduce the
  exact double result.
- **LSH-bucketed** (the scale path): random-hyperplane sign buckets cut
  the candidate set from O(n²) to per-bucket joins. Hyperplanes are
  derived deterministically from md5 so runs are reproducible across
  engines and cluster sizes.

At 100 TB the brute-force path is only for small probe sets against a
broadcast candidate pool; the LSH path shuffles by bucket key only.
"""

from __future__ import annotations

# Module-level so the STRING type hints on the pandas UDFs below (future
# annotations) resolve at decoration time; pandas is a pyspark dependency
# and this module only loads alongside a SparkSession anyway.
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot_expr", "norm_expr", "cosine_expr", "pair_dot_arrow", "cosine_topk",
    "cosine_neardup_pairs", "lsh_bucket", "lsh_banded_neardup", "lsh_topk",
    "ivf_assign", "ivf_topk", "ivf_write_index", "ivf_append_index",
    "ivf_topk_from_index", "sq8_codes", "sq8_topk",
    "kmeans_refine", "semantic_dedup",
    "pq_train", "pq_codes", "pq_topk",
    "ivfpq_write_index", "ivfpq_topk", "ivfpq_append_index",
]


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential double dot product (see :func:`dot_expr`).

    Exposed as TEXT so composite expressions embed it in ONE ``F.expr``
    parse: building the same tree from python ``F.aggregate``/``F.zip_with``
    lambdas costs ~75 py4j round-trips (~100 ms of driver wall per call
    on this host) vs ~3 for the parsed string (r9 measurement, guide §1.2
    — the driver must not pay per-node for constant expression shapes).
    """
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def dot_expr(a: str, b: str) -> Column:
    """Sequential double-precision dot product of two array<float> columns.

    Left-to-right ``aggregate`` accumulation => bit-identical to a SQL
    engine summing in index order (the oracle's list_sum/list_transform).
    """
    return F.expr(_dot_sql(a, b))


def norm_expr(a: str) -> Column:
    return F.expr(_norm_sql(a))


def _qc_cos_expr() -> Column:
    """``round(cos(_qv, _cent), 6)`` — the query-to-centroid ranking
    expression shared by every IVF prober (one parse, not per-node py4j)."""
    return F.expr(
        f"round({_dot_sql('_qv', '_cent')} / "
        f"nullif({_norm_sql('_qv')} * _cnorm, CAST(0.0 AS DOUBLE)), 6)"
    )


def pair_dot_arrow() -> Column:
    """Arrow-batched pair dot product, bit-identical to :func:`dot_expr`.

    Interpreted HOF evaluation costs ~20µs per 64-dim pair (measured);
    past ~100k candidate pairs that dominates the whole near-dup job, so
    the per-pair scorer is the one place this module drops to Python —
    Arrow-batched numpy, never per-row. Bit-equality with the JVM
    expression holds because float32 components promote to float64
    exactly and each product of two such values fits in float64's 53-bit
    significand (≤48 bits), so the only rounding happens in the
    additions — and the column-wise ``acc += A[:,i]*B[:,i]`` loop
    performs those additions in the same left-to-right order as
    ``aggregate``, just vectorized across rows. The driver oracle is
    therefore unaffected (verified: identical output hash vs the
    expression scorer at sf0.01 and sf0.1).
    """
    from pyspark.sql.functions import pandas_udf

    # Type-hint form (the PandasUDFType.SCALAR enum is deprecated in
    # Spark 4); the stringified hints resolve against the module-level
    # pandas import.
    @pandas_udf("double")
    def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.asarray(a.tolist(), dtype=np.float64)
        B = np.asarray(b.tolist(), dtype=np.float64)
        acc = np.zeros(len(A), dtype=np.float64)
        for i in range(A.shape[1]):
            acc += A[:, i] * B[:, i]
        return pd.Series(acc)

    return _pair_dot


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm — the
    same semantics as the SQL oracles (DuckDB x/0 is NULL), and under
    Spark 4's default ANSI mode the nullif is REQUIRED: a bare division
    throws DIVIDE_BY_ZERO on the first all-zero embedding (found by the
    pq-rerank hypothesis property test, round 4)."""
    return dot_expr(a, b) / F.nullif(norm_expr(a) * norm_expr(b), F.lit(0.0))


def _cos_hoisted_expr(a: str, b: str, an: str, bn: str) -> Column:
    """``round(cosine, 6)`` with both vector norms read from projected
    columns instead of re-folded per candidate: ``cosine_expr`` runs
    THREE interpreted 64-element folds per candidate pair (dot + two
    norms); hoisting the norms to one projected column per SIDE leaves
    one fold + one divide per pair — a ~3x cut of the dominant
    per-candidate compute at any scale (the sq8_topk / LSH pair-scorer
    hoist, r9, applied to every remaining probe path). sqrt of the same
    fold yields the same double, so values are bit-identical and every
    oracle is unaffected; NULL-on-zero-norm semantics preserved by the
    same nullif."""
    return F.expr(
        f"round({_dot_sql(a, b)} / "
        f"nullif({an} * {bn}, CAST(0.0 AS DOUBLE)), 6)"
    )


def _qc_cos_hoisted() -> Column:
    """Query-to-centroid ranking with the query norm hoisted to the
    ``_qn`` projected column (``_cnorm`` was already hoisted)."""
    return F.expr(
        f"round({_dot_sql('_qv', '_cent')} / "
        "nullif(_qn * _cnorm, CAST(0.0 AS DOUBLE)), 6)"
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id, cosine). Ranking ties are
    broken on (rounded cosine DESC, neighbor id ASC) so results are
    total-ordered and reproducible. The probe side is broadcast — the
    corpus is scanned once, never shuffled.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        norm_expr(vec_col).alias("_cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    pairs = pairs.withColumn("cosine", _cos_hoisted_expr("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).

    Exact quadratic baseline for modest pools; for web-scale use
    :func:`lsh_bucket` to restrict pairs to colliding buckets first.
    """
    a = df.select(F.col(id_col).alias("id_1"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_2"), F.col(vec_col).alias("_vb"))
    pairs = a.crossJoin(b).filter(F.col("id_1") < F.col("id_2"))
    return (
        pairs.withColumn("cosine", F.round(cosine_expr("_va", "_vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
    )


def _centroids(df: DataFrame, id_col: str, vec_col: str, n_clusters: int) -> DataFrame:
    """(_cid, _cent, _cnorm): the first ``n_clusters`` vectors by id —
    deterministic seeding, which is what the oracle can replay;
    production IVF would refine them with a few k-means rounds, changing
    only this relation. Norms are precomputed so probe-time scoring
    never recomputes them per row."""
    return (
        df.orderBy(F.col(id_col).asc())
        .limit(n_clusters)
        .select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("_cent"),
            norm_expr(vec_col).alias("_cnorm"),
        )
    )


def ivf_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: route each vector to its nearest centroid.

    The centroid set is collapsed into ONE broadcast row holding an
    array of (cid, cent, norm) structs; each corpus row picks its
    cluster with an in-row ``array_max`` argmax over that array
    (tie → lowest cid, matching the oracle's ordering). Assignment is
    therefore a single scan of the corpus with ZERO shuffle — at 100 TB
    this is the cheapest possible routing pass; the earlier formulation
    (cross join + window over ``partitionBy(id)``) shuffled the whole
    corpus just to take a per-row argmax. Returns (id, cluster, vec).

    ``centroids`` overrides the deterministic seed set with an external
    (_cid, _cent, _cnorm) relation — e.g. :func:`kmeans_refine` output.
    """
    if centroids is None:
        centroids = _centroids(df, id_col, vec_col, n_clusters)
    cent_arr = centroids.agg(
        F.collect_list(F.struct("_cid", "_cent", "_cnorm")).alias("_cents")
    )
    base = df.select(
        id_col, vec_col,
        norm_expr(vec_col).alias("_vnorm"),
    )
    scored = base.crossJoin(F.broadcast(cent_arr))
    # one parsed expression instead of ~200 py4j lambda-builder calls
    # (same tree, same values — see _dot_sql)
    best = F.expr(
        "array_max(transform(_cents, c -> struct("
        f"round({_dot_sql(vec_col, 'c._cent')} / "
        "nullif(_vnorm * c._cnorm, CAST(0.0 AS DOUBLE)), 6) AS cos, "
        "-c._cid AS ncid)))"
    )
    return scored.select(
        id_col, (-best["ncid"]).alias("cluster"), vec_col
    )


def _materialize_centroids(cent: DataFrame) -> DataFrame:
    """Collect a (bounded, n_clusters-row) centroid relation and rebuild
    it as a JVM ``VALUES`` LocalRelation with the identical schema.

    Exactness: integer cids are decimal text; double/float cells go
    through ``repr`` (shortest round-trip — the parsed value is
    bit-identical); see plans/local.py. Relations past the VALUES cap
    are returned unchanged (a quantizer that big should not be a
    driver-side sidecar; the lazy chain stays correct, just deeper)."""
    from pygrametl_spark.plans.local import _MAX_VALUES_ROWS, local_relation

    rows = cent.collect()
    if len(rows) > _MAX_VALUES_ROWS:
        return cent
    fields = cent.schema.fields
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    data = [[r[f.name] for f in fields] for r in rows]
    return local_relation(cent.sparkSession, data, ddl)


def kmeans_refine(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means over cosine similarity (spherical
    k-means): the production refinement of the deterministic IVF seed
    centroids (:func:`_centroids` docstring). Returns the refined
    (_cid, _cent, _cnorm) relation — a drop-in replacement anywhere the
    seed centroids are used (``ivf_assign(centroids=...)``).

    Per iteration:

    - **assign** — the zero-shuffle broadcast in-row argmax of
      :func:`ivf_assign`: one corpus scan, no data movement;
    - **update** — ``posexplode`` each vector and take per-(cluster, dim)
      means. HashAggregate's map-side partial aggregation collapses the
      exploded rows *before* the exchange, so the shuffle carries only
      O(n_clusters x dim x n_partitions) partial sums, never the corpus.
      Per-dimension means are rounded to 6 decimals each round so the
      DuckDB oracle (which unrolls the same fixed ``iters``) reproduces
      the trajectory bit-for-bit; a cluster that loses all members keeps
      its previous centroid.

    Fixed iteration count (no convergence test) keeps the plan static
    and the computation exactly SQL-expressible; IVF coarse quantizers
    in practice train with a small fixed round budget anyway.

    Each round's (tiny, ``n_clusters``-row) centroid relation is
    MATERIALIZED (collected and rebuilt as a VALUES LocalRelation)
    before the next round: the lazy formulation nests round r's whole
    plan inside round r+1's assign (broadcast side) AND its update join,
    so the corpus scan and every earlier round replayed multiplicatively
    with ``iters`` (guide §1.2/§3.3 — materialize to truncate a plan the
    optimizer re-executes). Values are unchanged: doubles round-trip
    exactly through repr literals (the same machinery the r7-r9
    quantizer memo used, hash-verified against the unrolled SQL oracle).
    Training therefore costs exactly ``iters + 1`` small jobs: one seed
    limit-scan plus one corpus aggregation per round.
    """
    cent = _materialize_centroids(_centroids(df, id_col, vec_col, n_clusters))
    for _ in range(iters):
        assigned = ivf_assign(
            df, id_col=id_col, vec_col=vec_col, n_clusters=n_clusters, centroids=cent
        )
        dims = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("_pos", "_x"))
            .groupBy("cluster", "_pos")
            .agg(F.round(F.avg(F.col("_x").cast("double")), 6).alias("_m"))
        )
        new = (
            dims.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select(
                F.col("cluster").alias("_cid"),
                F.expr("transform(_pm, s -> s._m)").alias("_new"),
            )
        )
        cent = _materialize_centroids(
            cent.join(new, cent["_cid"] == new["_cid"], "left")
            .select(
                cent["_cid"],
                F.coalesce(new["_new"], cent["_cent"]).alias("_cent"),
            )
            .withColumn("_cnorm", norm_expr("_cent"))
        )
    return cent


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    nprobe: int = 3,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: scan only the ``nprobe`` clusters whose
    centroids are nearest each query, then exact cosine within them.
    ``centroids`` plugs in an externally trained quantizer
    (:func:`kmeans_refine`); default is the deterministic seed set.

    The scale story: the corpus is routed once (:func:`ivf_assign` —
    in practice written out partitioned by ``cluster``), and each query
    touches ``nprobe/n_clusters`` of the data with partition pruning
    doing the skipping. Both the centroid table and the probe set are
    broadcast; the corpus is never shuffled.
    """
    cent = centroids if centroids is not None else _centroids(df, id_col, vec_col, n_clusters)
    assign = ivf_assign(
        df, id_col=id_col, vec_col=vec_col, n_clusters=n_clusters, centroids=cent
    ).withColumn("_cn", norm_expr(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    qc = q.crossJoin(F.broadcast(cent)).withColumn(
        "_cos",
        _qc_cos_hoisted(),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "_qv", "_qn", F.col("_cid").alias("cluster"))
    )
    cand = assign.join(F.broadcast(probes), "cluster").filter(
        F.col(id_col) != F.col("query_id")
    )
    cand = cand.withColumn("cosine", _cos_hoisted_expr("_qv", vec_col, "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                F.col(id_col).alias("neighbor_id"), "cosine")
    )


def ivf_write_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    centroids: DataFrame | None = None,
) -> None:
    """Persist the IVF index: vectors written **partitioned by cluster**
    plus a small centroid sidecar. This materializes the scale story the
    in-memory :func:`ivf_topk` can only allude to — at 100 TB the
    routing pass runs once, and every probe afterwards reads only its
    ``nprobe`` cluster directories."""
    cent = centroids if centroids is not None else _centroids(df, id_col, vec_col, n_clusters)
    # Materialize the n_clusters centroid rows ONCE (eager pin of a
    # bounded relation) and feed BOTH consumers from it: the sidecar
    # write and the routing pass's broadcast each held their own copy of
    # the centroid subtree, so the corpus was scanned twice per index
    # build — once for each TopK — and, with an externally trained
    # quantizer (kmeans_refine), the whole training trajectory replayed
    # twice (r9; guide §1.2 — don't compute the same subtree per
    # consumer). NOT a driver collect + createDataFrame: the
    # list-of-Rows route builds a Python-RDD-backed relation whose
    # every action respawns Python workers (measured: 5-7 s to write 8
    # such rows vs 0.3 s for this pin).
    cent = cent.localCheckpoint()
    cent.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )  # n_clusters rows: one file, not one per shuffle partition —
    # this sidecar is opened on EVERY probe
    ivf_assign(
        df, id_col=id_col, vec_col=vec_col, n_clusters=n_clusters,
        centroids=cent,
    ).write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/vectors")


def ivf_append_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF index
    (:func:`ivf_write_index`) without touching the existing corpus.

    The production maintenance path for a daily embedding ingest: the
    new batch is routed with the index's OWN stored centroids (one
    broadcast + one scan of only the new vectors — the existing
    partitions are never read or rewritten) and appended into the
    cluster directories. Probes see the union immediately; because
    routing uses identical centroids, append-then-probe is
    bit-identical to rebuilding the whole index from the unioned
    corpus (test-verified). Centroids drift as the distribution grows —
    periodically re-train (:func:`kmeans_refine`) and rewrite, the same
    rebuild cadence every production IVF system has.
    """
    spark = df.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    ivf_assign(
        df, id_col=id_col, vec_col=vec_col, centroids=cent
    ).write.mode("append").partitionBy("cluster").parquet(f"{path}/vectors")


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 3,
    k: int = 5,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`ivf_write_index`).

    The candidate read joins the partitioned vector relation to the
    broadcast probe set on ``cluster`` — the partition column — so
    Spark's dynamic partition pruning turns the join into a directory
    skip: only the probed ``nprobe`` clusters per query are scanned
    (verified in the plan: the scan's PartitionFilters carries a
    ``dynamicpruning`` subquery on cluster).
    """
    cent = spark.read.parquet(f"{path}/centroids")
    assign = spark.read.parquet(f"{path}/vectors").withColumn(
        "_cn", norm_expr(vec_col)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    qc = q.crossJoin(F.broadcast(cent)).withColumn(
        "_cos",
        _qc_cos_hoisted(),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "_qv", "_qn", F.col("_cid").alias("cluster"))
    )
    cand = assign.join(F.broadcast(probes), "cluster").filter(
        F.col(id_col) != F.col("query_id")
    )
    cand = cand.withColumn("cosine", _cos_hoisted_expr("_qv", vec_col, "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                F.col(id_col).alias("neighbor_id"), "cosine")
    )


def lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign bits of projections).

    Hyperplane components are deterministic pseudo-randoms in [-1, 1)
    derived from md5(plane,index) — no RNG state, so every engine,
    executor, and rerun agrees. Vectors in the same bucket are
    candidate neighbors; expected bucket count 2**n_planes.
    """
    planes = [[_plane_weight(p, i) for i in range(dim)] for p in range(n_planes)]
    # One nested array *literal* + two folds: the plan carries a single
    # constant instead of n_planes*dim unrolled arithmetic nodes (which
    # blew codegen past the 1 MB task-binary mark and dominated driver
    # time). Projection sums run left-to-right, matching the oracle's
    # list_sum order bit-for-bit. The whole fold is ONE parsed expression
    # (py4j lambda builders cost ~100 ms per HOF on this driver).
    bucket = F.expr(
        f"aggregate(transform(sequence(0, {n_planes - 1}), "
        f"p -> CASE WHEN aggregate(zip_with({vec_col}, "
        f"element_at({_planes_sql(planes)}, p + 1), "
        "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (acc, v) -> acc + v) >= 0 "
        "THEN CAST(power(2.0D, CAST(p AS DOUBLE)) AS INT) ELSE 0 END), "
        "0, (acc2, v2) -> acc2 + v2)"
    )
    return df.withColumn(out, bucket.cast("int"))


def _banded_buckets_expr(
    vec_sql: str, planes: "list[list[float]]", n_bands: int, planes_per_band: int
) -> Column:
    """Per-row ``array<int>`` of ``n_bands`` sign-bit bucket ids — band b
    uses planes ``b*planes_per_band .. (b+1)*planes_per_band-1``. One
    parsed expression: the python lambda builders for this nested fold
    cost ~20 py4j round-trips per node (~0.5 s of driver wall per call
    site at 8x6 bands, measured r9)."""
    return F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> aggregate(sequence(0, {planes_per_band - 1}), 0, "
        f"(acc, p) -> acc + (CASE WHEN aggregate(zip_with({vec_sql}, "
        f"element_at({_planes_sql(planes)}, b * {planes_per_band} + p + 1), "
        "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (a2, v2) -> a2 + v2) >= 0 "
        "THEN CAST(power(2.0D, CAST(p AS DOUBLE)) AS INT) ELSE 0 END)))"
    )


def _banded_buckets_np(
    planes: "list[list[float]]", n_bands: int, planes_per_band: int, dim: int
):
    """Vectorized (Arrow/numpy) twin of :func:`_banded_buckets_expr`.

    The nested-HOF expression is interpreted per lambda element (~48
    dots x ~20µs = ~1 ms per ROW at 8x6 bands — measured: the banding
    scan alone cost 0.6 s for 2,000 vectors on one core, and an
    unrolled codegen variant was 10x WORSE, 2.7 ms/row interpreted).
    numpy computes the same projections as column-wise left-to-right
    accumulation (``acc += outer(V[:, i], W[:, i])``) — the identical
    addition order as ``aggregate``, just vectorized across rows, the
    same bit-equality argument as :func:`pair_dot_arrow` (guide §4.2:
    hand whole Arrow batches to vectorized native code). Degenerate
    rows reproduce the zip_with semantics exactly: a NULL vector or a
    length != dim makes every projection NULL in the expression →
    every CASE yields bit 0 → the all-zero bucket array (pinned by
    test_banded_buckets_np_identity, incl. NaN/Inf). One boundary
    caveat: Arrow erases the NULL-element-vs-NaN distinction inside a
    list column (null → NaN before the UDF sees it), so a NULL ELEMENT
    scores like NaN here (all-ones bits, Spark's NaN-above-everything
    order) where the expression twin yields bit 0 — unreachable for
    well-formed embeddings, pinned explicitly in the identity test.
    """
    from pyspark.sql.functions import pandas_udf

    W = [list(map(float, p)) for p in planes]

    @pandas_udf("array<int>")
    def _np_buckets(vec: pd.Series) -> pd.Series:
        import numpy as np

        lst = vec.tolist()
        n = len(lst)
        if n == 0:
            return pd.Series([], dtype=object)
        Wm = np.asarray(W, dtype=np.float64)  # (n_planes, dim)
        pw = np.array([2**p for p in range(planes_per_band)], dtype=np.int64)

        def project(V):
            acc = np.zeros((V.shape[0], Wm.shape[0]), dtype=np.float64)
            for i in range(dim):  # left-to-right, matching aggregate()
                acc += np.multiply.outer(V[:, i], Wm[:, i])
            # Spark SQL orders NaN above every numeric, so `NaN >= 0` is
            # TRUE in the expression twin; IEEE (numpy) says False.
            bits = ((acc >= 0) | np.isnan(acc)).astype(np.int64)
            return (bits.reshape(V.shape[0], n_bands, planes_per_band) * pw).sum(
                axis=2
            ).astype(np.int32)

        try:
            V = np.asarray(lst, dtype=np.float64)
            if V.ndim == 2 and V.shape[1] == dim:
                return pd.Series(list(project(V)))
        except (TypeError, ValueError):
            pass
        # ragged / NULL rows: zip_with yields NULL projections there,
        # i.e. the all-zero bucket array; well-formed rows score normally
        out = np.zeros((n, n_bands), dtype=np.int32)
        for r, x in enumerate(lst):
            if x is None or len(x) != dim:
                continue
            try:
                v = np.asarray(x, dtype=np.float64).reshape(1, dim)
            except (TypeError, ValueError):
                continue
            out[r] = project(v)[0]
        return pd.Series(list(out))

    return _np_buckets


def lsh_banded_neardup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 8,
    planes_per_band: int = 6,
    threshold: float = 0.45,
    scorer: str = "grouped",
) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane LSH.

    The scale path for ``cosine_neardup_pairs`` (which is an exact but
    O(n²) crossJoin, kept only as a tiny-pool test oracle). Candidate
    pairs are restricted to vectors that collide in at least one of
    ``n_bands`` independent sign-bit buckets (band b uses planes
    ``b*planes_per_band .. (b+1)*planes_per_band-1`` of the same
    deterministic md5-derived family as :func:`lsh_bucket`); exact
    cosine is then computed only within buckets and thresholded, and
    pairs colliding in several bands are deduplicated.

    Plan shape (default ``scorer="grouped"``): ONE corpus scan computes
    all band buckets in-row (a single nested plane literal, no
    per-plane expression blowup), an explode by band, ONE exchange on
    (band, bucket), then each bucket is scored as a single Arrow batch
    (``applyInPandas``: every vector crosses to Python once per band,
    pairwise dots are rank-1 column updates — bit-identical to the
    sequential expression, measured 2.7x faster once candidates exceed
    ~100k), and a final pair-dedup exchange — never a corpus×corpus
    product. Bucket sizes (and so per-group memory) are governed by
    ``planes_per_band``: at larger corpus scale raise it so buckets
    stay bounded, exactly like the stop-shingle guard in dedup.
    ``scorer="arrow"`` scores per candidate pair after a bucket
    self-join; ``scorer="expr"`` additionally stays fully JVM-side
    (fastest for tiny pools, no Python worker spin-up). Recall
    is tunable: more bands raise it at linear candidate cost (with
    these defaults, a pair at cosine ≈ 0.46 collides in ≥1 band with
    p ≈ 0.47; near-identical vectors with p ≈ 1). The driver oracle
    replays the identical banding, so the gate checks the approximate
    semantics exactly.
    """
    planes = [
        [_plane_weight(p, i) for i in range(dim)]
        for p in range(n_bands * planes_per_band)
    ]
    # per-row array of n_bands bucket ids — vectorized numpy twin of the
    # interpreted-HOF expression (bit-identical; see _banded_buckets_np)
    buckets = _banded_buckets_np(planes, n_bands, planes_per_band, dim)(
        F.col(vec_col)
    )
    # norms once per vector (8k aggregates), NOT once per candidate pair
    # (millions) — the per-pair work is then a single dot product; the
    # value is bit-identical to inlining, so the oracle is unaffected
    banded = df.select(
        F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_norm"),
        F.posexplode(buckets).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.band") == F.col("b.band"),
            F.col("a.bucket") == F.col("b.bucket"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    )
    if scorer == "grouped":
        # Score each (band, bucket) group in one Arrow batch: the
        # self-join disappears from the plan (one exchange on the bucket
        # key, same as the join needed anyway), every vector crosses to
        # Python ONCE per band instead of once per candidate pair, and
        # the pairwise dots are the same left-to-right column
        # accumulation (rank-1 updates acc += outer(col_i, col_i)), so
        # results stay bit-identical to the expression scorer.
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType,
        )

        out_schema = StructType([
            StructField("id_1", LongType()),
            StructField("id_2", LongType()),
            StructField("cosine", DoubleType()),
        ])

        def score_bucket(pdf):
            import numpy as np
            import pandas as pd

            m = len(pdf)
            if m < 2:
                return pd.DataFrame({"id_1": [], "id_2": [], "cosine": []})
            order = np.argsort(pdf["_vid"].to_numpy(), kind="stable")
            ids = pdf["_vid"].to_numpy()[order]
            A = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)[order]
            norms = pdf["_nrm"].to_numpy()[order]
            acc = np.zeros((m, m), dtype=np.float64)
            for i in range(A.shape[1]):
                col = A[:, i]
                acc += np.multiply.outer(col, col)
            iu, ju = np.triu_indices(m, k=1)
            # raw (unrounded) cosine: IEEE division is bit-identical
            # across engines; rounding is NOT (numpy is half-even, Spark
            # exact-decimal HALF_UP), so round + final threshold happen
            # JVM-side. The slack pre-filter only drops sure losers.
            cosv = acc[iu, ju] / (norms[iu] * norms[ju])
            keep = cosv >= threshold - 1e-6
            return pd.DataFrame({
                "id_1": ids[iu[keep]], "id_2": ids[ju[keep]], "cosine": cosv[keep],
            })

        return (
            banded.select(
                "band", "bucket",
                F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"),
                F.col("_norm").alias("_nrm"),
            )
            .groupBy("band", "bucket")
            .applyInPandas(score_bucket, out_schema)
            .withColumn("cosine", F.round(F.col("cosine"), 6))
            .filter(F.col("cosine") >= threshold)
            .distinct()
        )

    # scorer="arrow": Arrow-batched numpy dot per candidate pair (see
    # pair_dot_arrow — bit-identical to the expression); "expr" keeps
    # everything JVM-side for tiny pools.
    if scorer == "arrow":
        dot = pair_dot_arrow()(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    else:
        dot = dot_expr(f"a.{vec_col}", f"b.{vec_col}")
    cos = F.round(
        dot / F.nullif(F.col("a._norm") * F.col("b._norm"), F.lit(0.0)), 6
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            "cosine",
        )
        .distinct()
    )


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 8,
    planes_per_band: int = 6,
    k: int = 5,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k retrieval via banded hyperplane LSH: candidate
    neighbors are corpus vectors colliding with the query in at least
    one of ``n_bands`` sign-bit buckets (the same deterministic
    md5-derived plane family as :func:`lsh_banded_neardup`); exact
    cosine is computed only over candidates.

    Plan shape: band buckets for BOTH sides are in-row scan-stage
    expressions; the (tiny) query side is exploded by band and
    broadcast, so the corpus is scanned once — the only exchanges are
    the candidate dedup + per-query window, both proportional to the
    candidate set, never the corpus. Recall rises with ``n_bands``
    (linear candidate cost) and falls with ``planes_per_band``
    (which bounds bucket width — the skew guard). Ties break on
    (cosine DESC, id ASC). Returns (query_id, rank, neighbor_id,
    cosine). Measured recall@10 per configuration: PERF.md "ANN recall".

    ``multiprobe=True`` (Lv et al. 2007) additionally probes, per band,
    every bucket at Hamming distance 1 from the query's bucket — the
    vectors that fell just across ONE hyperplane. The corpus side (the
    expensive side) is untouched: only the broadcast query relation
    grows by a factor of ``planes_per_band + 1``, buying the recall of
    ~``(planes_per_band+1) × n_bands`` bands for the candidate cost of
    the wider probe set — no extra corpus hashing, no extra index
    space. Measured: 8×6 single-probe 0.32 → multiprobe ≥ 0.8 recall@10.
    """
    planes = [
        [_plane_weight(p, i) for i in range(dim)]
        for p in range(n_bands * planes_per_band)
    ]

    buckets = _banded_buckets_np(planes, n_bands, planes_per_band, dim)(
        F.col(vec_col)
    )
    # norms once per vector row (computed in the generator's child
    # projection, BEFORE the band explode replicates the row — and far
    # before the per-candidate join; see _cos_hoisted_expr)
    c = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        norm_expr(vec_col).alias("_cn"),
        F.posexplode(buckets).alias("band", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
        F.posexplode(buckets).alias("band", "bucket"),
    )
    if multiprobe:
        variants = F.expr(
            "concat(array(bucket), "
            f"transform(sequence(0, {planes_per_band - 1}), "
            "p -> bucket ^ CAST(power(2.0D, CAST(p AS DOUBLE)) AS INT)))"
        )
        q = q.select(
            "query_id", "_qv", "_qn", "band", F.explode(variants).alias("bucket")
        )
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cand = cand.withColumn("cosine", _cos_hoisted_expr("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    iters: int = 2,
    threshold: float = 0.85,
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with spherical
    k-means, then prune within clusters only — a document is a semantic
    duplicate if some SAME-CLUSTER document with a smaller id sits above
    the cosine ``threshold``. Returns one row per input:
    (id, cluster, keep).

    The clustering is what makes this a 100 TB operator: pairwise
    comparison collapses from O(n²) corpus-wide to O(Σ cluster²) —
    with k balanced clusters, a k-fold reduction — and each cluster is
    scored as ONE Arrow batch with the same left-to-right column
    accumulation as :func:`lsh_banded_neardup`'s grouped scorer, so the
    cosine values are bit-identical to the sequential JVM expression
    (the DuckDB oracle replays the identical k-means trajectory and
    within-cluster pruning). The keep rule — drop anything with a
    smaller-id near neighbor in its cluster — is the deterministic,
    engine-replayable version of SemDeDup's keep-one-per-ε-ball.

    Plan shape: kmeans (broadcast-assign scans + partial-sum updates),
    ONE zero-shuffle assignment pass, one exchange on cluster, grouped
    Arrow scoring, broadcast anti-join of the (small) duplicate-id set.
    ``max_cluster_size`` is the same skew guard as dedup's
    ``max_bucket_size``: an over-cap cluster is skipped (kept whole)
    rather than scored quadratically — re-cluster with larger
    ``n_clusters`` instead.

    ``n_clusters`` MUST scale with the corpus (SemDeDup uses ~n/1000
    clusters at paper scale): a fixed cluster count makes within-cluster
    scoring quadratic in corpus growth — measured 54x time at 32x rows
    with k fixed, vs 12.8x with k scaled. When ``n_clusters`` is None it
    defaults to ``clamp(count()/500, 8, 65536)`` so forgetting the knob
    degrades to one extra count job, never to a quadratic plan.
    """
    if n_clusters is None and centroids is None:
        n_clusters = max(8, min(65536, df.count() // 500))
    cent = (
        centroids
        if centroids is not None
        else kmeans_refine(
            df, id_col=id_col, vec_col=vec_col, n_clusters=n_clusters, iters=iters
        )
    )
    # pinned: the assignment feeds BOTH the duplicate scorer and the
    # final keep join; without the pin the whole kmeans trajectory +
    # assignment scan is planned twice (no exchange reuse — the two
    # consumers shuffle on different keys)
    assigned = ivf_assign(
        df, id_col=id_col, vec_col=vec_col, n_clusters=n_clusters, centroids=cent
    ).localCheckpoint(eager=False)

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType([
        StructField("dup_id", LongType()),
        StructField("cosine", DoubleType()),
    ])
    cap = max_cluster_size

    def score_cluster(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m < 2 or (cap is not None and m > cap):
            return pd.DataFrame({"dup_id": [], "cosine": []})
        order = np.argsort(pdf["_vid"].to_numpy(), kind="stable")
        ids = pdf["_vid"].to_numpy()[order]
        A = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)[order]
        acc = np.zeros((m, m), dtype=np.float64)
        for i in range(A.shape[1]):
            col = A[:, i]
            acc += np.multiply.outer(col, col)
        # diag of acc accumulated in the same left-to-right dim order as
        # the sequential JVM/SQL norm fold -> bit-identical norms
        norms = np.sqrt(np.diag(acc))
        iu, ju = np.triu_indices(m, k=1)
        cosv = acc[iu, ju] / (norms[iu] * norms[ju])
        # slack pre-filter only; round + exact threshold happen JVM-side
        # (numpy rounds half-even, Spark/DuckDB ROUND is HALF_UP)
        hit = cosv >= threshold - 1e-6
        # ids[ju] is always the LARGER id of the pair -> the one dropped
        return pd.DataFrame({"dup_id": ids[ju[hit]], "cosine": cosv[hit]})

    dups = (
        assigned.select(
            "cluster", F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec")
        )
        .groupBy("cluster")
        .applyInPandas(score_cluster, out_schema)
        .withColumn("cosine", F.round(F.col("cosine"), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("dup_id").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(F.broadcast(dups), id_col, "left")
        .select(
            id_col, "cluster", F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep")
        )
    )


def _plane_weight(plane: int, index: int) -> float:
    """Deterministic pseudo-random in [-1, 1): md5-derived, engine-free."""
    import hashlib

    h = hashlib.md5(f"plane{plane}:{index}".encode()).hexdigest()[:8]
    return int(h, 16) / float(2 ** 31) - 1.0


def _dlit(v: float) -> str:
    """A python float as a Spark SQL DOUBLE literal token.

    ``repr``'s shortest-roundtrip decimal re-parses to a bit-identical
    double, but a bare decimal literal parses as DECIMAL in Spark SQL,
    so an exponent suffix is appended — ONLY when ``repr`` didn't
    already emit one: ``repr(7e-05) == '7e-05'`` and naively appending
    would yield the token ``7e-05E0``, which raises PARSE_SYNTAX_ERROR
    (a real crash for near-zero codebook values; every literal builder
    below must go through this guard).
    """
    s = repr(float(v))
    return s if ("e" in s or "E" in s) else s + "E0"


def _planes_sql(planes: list[list[float]]) -> str:
    """SQL text of the hyperplane matrix literal (see :func:`_planes_lit`)."""
    return (
        "array(" + ",".join(
            "array(" + ",".join(_dlit(v) for v in row) + ")" for row in planes
        ) + ")"
    )


def _planes_lit(planes: list[list[float]]) -> Column:
    """The hyperplane matrix as ONE nested array literal, built through
    the SQL parser instead of ``F.lit``: constructing a 48x64 nested
    literal with ``F.lit`` costs ~1.7 s of driver time in py4j
    per-element calls (measured), i.e. more than executing the whole
    near-dup query — ``F.expr`` parses the same constant in ~8 ms.
    """
    return F.expr(_planes_sql(planes))


def _mat_sql(rows: "list[list[float]]") -> str:
    """SQL text of a 2-level float matrix literal."""
    return (
        "array(" + ",".join(
            "array(" + ",".join(_dlit(v) for v in row) + ")" for row in rows
        ) + ")"
    )


def _mat_lit(rows: "list[list[float]]") -> Column:
    """A 2-level float matrix as one parsed array<array<double>> literal."""
    return F.expr(_mat_sql(rows))


def _adc_sub_dot_sql(
    qv: str, codes_col: str, books: "list[list[list[float]]]", i: int, d: int
) -> str:
    """SQL text of one subspace's ADC dot: dot(query subvector i,
    codebook centroid picked by the candidate's i-th code)."""
    return (
        f"aggregate(zip_with(slice({qv}, {i * d + 1}, {d}), "
        f"element_at(element_at({_pq3_sql(books)}, {i + 1}), "
        f"CAST(element_at({codes_col}, {i + 1}) AS INT) + 1), "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def sq8_codes(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out: str = "code",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of an embedding.

    ``scale = max(|x|) / 127``; ``code_i = floor(x_i / scale + 0.5)``,
    so every component lands in [-127, 127]. This is the standard
    memory/IO lever for vector search at scale: codes are 4x smaller
    than float32, so a 100 TB embedding corpus scans (and caches) as
    ~25 TB, and the quantized dot product is an integer fold the JIT
    vectorizes. Quantization is pure in-row expression work — it runs
    inside the scan stage with zero shuffle, and writing the codes out
    instead of the raw vectors makes every downstream ANN pass cheaper.

    Cosine over codes needs no dequantization: the per-vector scales
    cancel, so ``cos_q = dot(ca, cb) / (|ca| * |cb|)`` on raw integer
    codes approximates full-precision cosine (error < ~1% at int8 for
    unit-norm-ish data). All-zero vectors quantize to all-zero codes.

    ``floor(x + 0.5)`` (not round-half-even) keeps the rounding rule
    identical across engines, so an oracle can replay it bit-exactly.
    """
    # maxabs is bound to a projected column first: referenced inside the
    # transform lambda it would re-run the O(d) fold once PER ELEMENT
    # (no loop-invariant hoisting in HOF lambdas) — O(d^2) per row.
    # Both expressions are single parsed strings (py4j lambda builders
    # cost ~100 ms per HOF on this driver; the parse is ~2 ms).
    maxabs = F.expr(
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    )
    staged = df.withColumn("_maxabs", maxabs)
    code = F.expr(
        f"CASE WHEN _maxabs = 0.0D THEN transform({vec_col}, x -> CAST(0 AS BIGINT)) "
        f"ELSE transform({vec_col}, "
        "x -> floor(CAST(x AS DOUBLE) * 127.0D / _maxabs + 0.5D)) END"
    )
    return staged.withColumn(out, code).drop("_maxabs")


def _int_dot_sql(a: str, b: str) -> str:
    """SQL text of the exact integer dot product of two array<bigint>
    code columns."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def sq8_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors by int8-quantized cosine (approximate ANN).

    Same plan shape as :func:`cosine_topk` — corpus scan-only, probe
    side broadcast — but the score is computed over int8 codes: the
    dot and both norms are exact integer folds (codes are <= 127, so a
    4096-dim dot stays far below 2^53), with floating point entering
    only at the final division. That makes the ranking bit-reproducible
    across engines AND cuts per-candidate math to one integer
    multiply-add per dimension. Ties break on (qcosine DESC, id ASC).

    Returns (query_id, rank, neighbor_id, qcosine).
    """
    # each side's norm is computed ONCE per vector before the join —
    # not once per (corpus x query) pair (guide §1.2: the per-pair work
    # is then a single integer fold + one divide). sqrt of the same
    # exact integer dot gives the same double, so values are unchanged.
    c = sq8_codes(df.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("_v")), vec_col="_v", out="_cc")
    c = c.drop("_v").withColumn(
        "_cn", F.expr(f"sqrt(CAST({_int_dot_sql('_cc', '_cc')} AS DOUBLE))")
    )
    q = sq8_codes(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("_v")), vec_col="_v", out="_qc")
    q = q.drop("_v").withColumn(
        "_qn", F.expr(f"sqrt(CAST({_int_dot_sql('_qc', '_qc')} AS DOUBLE))")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    pairs = pairs.withColumn(
        "qcosine",
        F.expr(
            f"round(CAST({_int_dot_sql('_qc', '_cc')} AS DOUBLE) / "
            "nullif(_qn * _cn, CAST(0.0 AS DOUBLE)), 6)"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qcosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the FAISS-style compression path. A D-dim
# vector becomes m sub-codes (one per D/m-dim subspace, each the id of
# the nearest of k trained sub-centroids): 64 float32 dims (256 B)
# become m=8 codes (8 B) — 32x less IO than raw and 8x less than sq8,
# which is what makes exhaustive re-ranking of IVF candidate lists
# affordable at 100 TB. Scoring is ADC (asymmetric distance
# computation): the query stays full-precision and each candidate's
# score is m codebook lookups, never a reconstruction.
# ---------------------------------------------------------------------------


def _pq3_sql(books: "list[list[list[float]]]") -> str:
    """SQL text of the 3-level codebook literal (see :func:`_pq3_lit`)."""
    return (
        "array(" + ",".join(
            "array(" + ",".join(
                "array(" + ",".join(_dlit(v) for v in cent) + ")" for cent in sub
            ) + ")" for sub in books
        ) + ")"
    )


def _pq3_lit(books: "list[list[list[float]]]") -> Column:
    """Codebooks as ONE 3-level nested array literal through the SQL
    parser (same rationale as :func:`_planes_lit`: F.lit would pay py4j
    per element; the whole m x k x d constant parses in milliseconds)."""
    return F.expr(_pq3_sql(books))


def _pq_assign_codes(
    vec_col: str, books: "list[list[list[float]]]", m: int, d: int
) -> Column:
    """array<bigint> of length m: per subspace, the index of the nearest
    centroid by squared L2 (tie -> lowest code), computed fully in-row —
    one argmin over k per subspace inside the scan stage, zero shuffle.
    Emitted as ONE parsed expression: the python lambda builders for the
    m nested argmin folds cost seconds of py4j driver wall per call
    (measured r9); the parse is milliseconds. The distance is rounded to
    6 BEFORE the argmin so the ordering (and the code-asc tiebreak) is
    identical across engines — same rule as the k-means oracle."""
    def sub_sql(i: int) -> str:
        cents = f"element_at({_pq3_sql(books)}, {i + 1})"
        dist = (
            f"round(aggregate(zip_with(slice({vec_col}, {i * d + 1}, {d}), "
            f"element_at({cents}, j + 1), "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
        )
        return (
            f"CAST(-(array_max(transform(sequence(0, size({cents}) - 1), "
            f"j -> struct(-{dist} AS nd, -j AS nc))).nc) AS BIGINT)"
        )

    return F.expr("array(" + ",".join(sub_sql(i) for i in range(m)) + ")")


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
) -> "list[list[list[float]]]":
    """Train PQ codebooks: ``m`` subspaces x ``k`` centroids each, by
    fixed-round Lloyd's over squared L2 per subspace (the per-subspace
    analogue of :func:`kmeans_refine`). Returns the nested python
    codebooks ``[sub][code][dim]`` — tiny (m*k*D/m doubles), the same
    "train returns index parameters" shape FAISS has.

    Seeding is deterministic (subvectors of the first ``k`` vectors by
    id); every round is one corpus scan with in-row assignment (broadcast
    codebook literal, zero shuffle) plus one exchange carrying only
    per-(sub, code, dim) partial sums after map-side combine. Means are
    rounded to 6 decimals per round, so retraining reproduces the same
    codebooks bit-for-bit; a centroid that loses all members keeps its
    previous value.
    """
    # seed components rounded through Spark's round (decimal HALF_UP,
    # the same rule DuckDB's ROUND applies) — python round() is
    # half-even and would diverge from the oracle on .5-boundary
    # components. The vector dimension is read off the first seed row
    # (one collect seeds AND sizes — the former separate first() probe
    # was an extra driver job per training).
    seed_rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.expr(f"transform({vec_col}, x -> round(CAST(x AS DOUBLE), 6))").alias("_v"))
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need >= k={k} vectors to train, have {len(seed_rows)}")
    dim = len(seed_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = [
        [[float(r["_v"][i * d + j]) for j in range(d)] for r in seed_rows]
        for i in range(m)
    ]
    for _ in range(iters):
        coded = df.select(
            _pq_assign_codes(vec_col, books, m, d).alias("_codes"), F.col(vec_col)
        )
        sums = (
            coded.select(
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, {m - 1}), "
                        "i -> struct(element_at(_codes, i + 1) AS code, "
                        f"slice({vec_col}, i * {d} + 1, {d}) AS sv))"
                    )
                ).alias("_sub", "_e")
            )
            .select("_sub", "_e.code", F.posexplode(F.col("_e.sv")).alias("_pos", "_x"))
            .groupBy("_sub", "code", "_pos")
            .agg(F.round(F.avg(F.col("_x").cast("double")), 6).alias("_mean"))
            .collect()
        )
        new = [[list(c) for c in sub] for sub in books]
        for r in sums:
            new[r["_sub"]][r["code"]][r["_pos"]] = r["_mean"]
        books = new
    return books


def pq_codes(
    df: DataFrame,
    books: "list[list[list[float]]]",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Encode vectors with trained codebooks: (id, codes array<bigint>
    of length m). Pure in-row expression work in the scan stage — this
    is the relation you persist instead of raw embeddings (m bytes of
    information per vector vs 4*D)."""
    m = len(books)
    d = len(books[0][0])
    return df.select(
        id_col, _pq_assign_codes(vec_col, books, m, d).alias(out)
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: "list[list[list[float]]]",
    *,
    id_col: str = "vec_id",
    code_col: str = "codes",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ADC top-k: full-precision queries against PQ codes.

    Score = sum over subspaces of dot(query_subvector, centroid[code]),
    normalized by |q| and the reconstruction norm — the asymmetric
    cosine estimate. Per candidate the work is m array lookups + m
    d-dim dots, all in-row over the (tiny) codes relation; the corpus'
    raw vectors are never read. Same plan shape as every top-k here:
    codes scan-only, probe side broadcast, per-query window. Ties break
    on (score DESC, id ASC). Returns (query_id, rank, neighbor_id,
    adc_score).
    """
    m = len(books)
    d = len(books[0][0])
    csq = [
        [round(sum(v * v for v in cent), 6) for cent in sub] for sub in books
    ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    pairs = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("_codes")
    ).crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))

    # ADC dot + reconstruction norm as ONE parsed expression each (the
    # python per-subspace fold builders cost ~100 ms of py4j per HOF)
    adc_dot = " + ".join(
        _adc_sub_dot_sql("_qv", "_codes", books, i, d) for i in range(m)
    )
    rec_sq = " + ".join(
        f"element_at(element_at({_mat_sql(csq)}, {i + 1}), "
        f"CAST(element_at(_codes, {i + 1}) AS INT) + 1)"
        for i in range(m)
    )
    pairs = pairs.withColumn(
        "adc_score",
        F.expr(
            f"round((CAST(0.0 AS DOUBLE) + {adc_dot}) / "
            f"nullif(_qn * sqrt(CAST(0.0 AS DOUBLE) + {rec_sq}), "
            "CAST(0.0 AS DOUBLE)), 6)"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_score")
    )


def pq_topk_rerank(
    codes: DataFrame,
    queries: DataFrame,
    books: "list[list[list[float]]]",
    raw: DataFrame,
    *,
    id_col: str = "vec_id",
    code_col: str = "codes",
    vec_col: str = "embedding",
    shortlist: int = 50,
    k: int = 5,
) -> DataFrame:
    """ADC shortlist → exact re-rank (the FAISS ``refine`` pattern,
    Jégou et al. 2011 §V-C): :func:`pq_topk` scores every candidate
    from its m-byte code, the top ``shortlist`` per query are re-scored
    with exact cosine from the raw vectors, and the top ``k`` of THAT
    ordering are returned.

    This is the quality fix for PQ's lossy scores: ADC only has to get
    the true neighbors somewhere inside the shortlist — the exact pass
    restores their order. Measured on the near-uniform synthetic
    embeddings at sf0.1 (PQ's worst case — RECALL.json / PERF.md "ANN
    recall"): m=8/k=16 ADC alone = 0.18 recall@10, shortlist=50 re-rank
    0.44, shortlist=100 0.60; with k=64 codebooks + shortlist=100 the
    chain reaches 0.80. Re-rank recovers order *within* the shortlist —
    recall is capped by how many true neighbors the ADC pass surfaces,
    so codebook quality (k) and shortlist depth are the levers.

    Plan shape: the shortlist relation is tiny (n_queries × shortlist
    ids) and is BROADCAST against the raw corpus, so the re-rank costs
    one scan-stage hash join + a per-query window over ≤ shortlist
    rows — the corpus is never shuffled, and at 100 TB the scan reads
    only (id, vector). Ties: ADC boundary on (adc_score DESC, id ASC),
    final on (cosine DESC, id ASC). Returns (query_id, rank,
    neighbor_id, cosine).
    """
    short = pq_topk(
        codes, queries, books,
        id_col=id_col, code_col=code_col, vec_col=vec_col, k=shortlist,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    c = raw.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        norm_expr(vec_col).alias("_cn"),
    )
    cand = c.join(F.broadcast(short.join(q, "query_id")), "neighbor_id")
    cand = cand.withColumn("cosine", _cos_hoisted_expr("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine")
    )


def ivfpq_write_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    centroids: DataFrame | None = None,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    books: "list[list[list[float]]] | None" = None,
    store_raw: bool = False,
    residual: bool = False,
) -> "list[list[list[float]]]":
    """Persist an IVF-PQ index — the canonical two-level ANN layout
    (FAISS ``IVFx,PQm``): vectors are routed to their coarse cluster
    (:func:`ivf_assign`) and stored as PQ CODES partitioned by cluster,
    plus the centroid sidecar and the codebooks (JSON sidecar). The
    index holds m bytes of payload per vector instead of 4*D: at 100 TB
    of raw embeddings the index directory is ~3 TB, probes read only
    their ``nprobe`` cluster directories, and each candidate costs m
    lookups — coarse pruning AND compression composed, which is what
    exhaustive-at-scale vector search actually ships. Returns the
    trained (or passed-through) codebooks.

    ``store_raw=True`` additionally writes the raw vectors under
    ``raw/``, partitioned by the SAME cluster column, enabling
    ``ivfpq_topk(rerank=R)`` — ADC shortlist from the codes, exact
    re-score from only the probed raw partitions (FAISS
    ``IVFx,PQm,Refine``). The raw store is the 4*D-byte tier you keep
    on cheap storage and touch only for the shortlist.

    ``residual=True`` encodes RESIDUALS ``x - centroid(x)`` instead of
    raw vectors — the actual FAISS IVFADC formulation (Jégou et al.
    2011 §IV-A): codebooks quantize within-cell displacements, whose
    dynamic range shrinks with cluster quality, so the same m bytes
    carry more signal wherever the corpus has coarse structure. Probe
    reconstruction ``x ≈ c + decode(code)`` stays fully in-row
    (:func:`ivfpq_topk` adds the per-(cluster, code) cross terms from
    a broadcast table; the plan shape is unchanged). The codebooks
    sidecar records the flag so probes and appends self-configure.

    The default stays ``False``, and as of the r6 production-chain
    measurement (RECALL.json, gate corpus AND clustered corpus, k=64
    codebooks × nprobe {8,12} × rerank {100,200}) residual is best
    understood as a **clustered-data, ADC-only option**:

    - *Encoding quality* (no rerank): residual wins exactly where the
      theory says — clustered corpus ADC-only 0.470 vs 0.370 raw at
      k=64 (and +0.21 at k=16 test scale, test_ivfpq_residual_encoding);
      on the near-isotropic gate corpus it LOSES (0.082 vs 0.182 at
      k=16 — with no coarse structure the centroid subtraction only
      adds noise for the codebooks to absorb).
    - *Production chain* (k=64 + exact rerank): residual never beat raw
      in any measured config — gate corpus 0.772 vs 0.806 (np8/r200)
      and 0.818 vs 0.880 (np12/r200); on the clustered corpus both
      saturate at 1.000 because a 200-deep exact rerank recovers
      whatever the ADC ordering got wrong. The rerank pass absorbs the
      encoding-quality difference, so pay for residual's extra probe
      work (qdotc/cross-term reconstruction) only when you CANNOT
      afford a raw tier + rerank and the corpus is clustered.

    The exactness invariant (all clusters probed + full rerank ≡ brute
    force) holds for both formulations. ``books`` passed in must match
    the formulation (residual-trained for ``residual=True``).

    Rebuild-in-place safety (ADVICE r6 #1): writing a FRESH index over a
    path that previously ran the streamed/compacted lifecycle must not
    leave that lifecycle's state behind — surviving ``g{N}.json``
    pointers would keep :func:`_resolve_index_tiers` serving the OLD
    generation's codes against the NEW codebooks (silently stale
    probes), surviving stream tiers would union stale vectors in, and a
    surviving ``stream_offsets``/``bid_cut`` would make a reused
    namespace's first batch land below the stale watermark and raise.
    All compaction/stream state under ``path`` is therefore deleted
    before the fresh sidecars land — EXCEPT a ``writer.lock`` whose
    holder is still live (r8, ADVICE r7 #4): rebuilding under a running
    stream raises instead of silently unlocking it; quiesce and
    release (:func:`~pygrametl_spark.streaming.ann.ivfpq_release_writer`)
    first. A dead holder's lock (crashed pid / stale heartbeat) is
    cleared like the rest of the lifecycle state.
    """
    import json
    import os
    import re
    import shutil

    if os.path.isdir(path):
        for entry in os.listdir(path):
            if entry == "writer.lock":
                # never silently unlock a LIVE stream writer (ADVICE r7
                # #4): rebuilding under a running stream would leave it
                # writing against vanished quantizers, and its next
                # fence check would rediscover an alien or missing lock
                # only after the fact. Same liveness rules as lease
                # acquisition (same-host pid probe, cross-host ttl).
                from pygrametl_spark.streaming.ann import (
                    _holder_is_live, _read_writer_lock,
                )

                held, age, _ino = _read_writer_lock(os.path.join(path, entry))
                if isinstance(held, dict) and _holder_is_live(
                    held, age, 3600.0
                ):
                    raise RuntimeError(
                        f"cannot rebuild index {path} in place: a live "
                        "stream writer holds its lease (namespace="
                        f"{held.get('namespace')!r}, pid={held.get('pid')}, "
                        f"host={held.get('host')!r}). Quiesce the stream "
                        "and release via ivfpq_release_writer first."
                    )
                try:
                    os.remove(os.path.join(path, entry))
                except OSError:
                    pass
            elif entry == "lease_log":
                # pointer-protocol lease (object-store mode): same
                # refusal discipline as writer.lock — never silently
                # unseat a LIVE holder; a dead/released log is
                # lifecycle debris like the rest
                from pygrametl_spark.streaming.ann import _lease_log_holder

                holder = _lease_log_holder(path, 3600.0)
                if holder is not None:
                    raise RuntimeError(
                        f"cannot rebuild index {path} in place: a live "
                        "stream writer holds its pointer lease "
                        f"(namespace={holder.get('namespace')!r}, "
                        f"pid={holder.get('pid')}, "
                        f"host={holder.get('host')!r}). Quiesce the "
                        "stream and release via ivfpq_release_writer "
                        "first."
                    )
                shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            elif (
                entry in ("codes_stream", "raw_stream", "stream_offsets")
                or re.match(r"^gen_g\d+_[0-9a-f]+$", entry)
            ):
                shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            elif re.match(r"^g\d+\.json$", entry):
                try:
                    os.remove(os.path.join(path, entry))
                except OSError:
                    pass

    cent = centroids if centroids is not None else _centroids(df, id_col, vec_col, n_clusters)
    assigned = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=cent)
    enc_col = vec_col
    if residual:
        assigned = _residualize(assigned, cent, vec_col)
        enc_col = "_res"
    if books is None:
        books = pq_train(
            assigned if residual else df,
            id_col=id_col, vec_col=enc_col, m=m, k=k, iters=iters,
        )
    cent.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )  # n_clusters rows: one file, not one per shuffle partition —
    # this sidecar is opened on EVERY probe
    d = len(books[0][0])
    coded = assigned.select(
        id_col, "cluster",
        _pq_assign_codes(enc_col, books, len(books), d).alias("codes"),
    )
    coded.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/codes")
    if store_raw:
        assigned.select(id_col, "cluster", vec_col).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(f"{path}/raw")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/codebooks.json", "w") as fh:
        json.dump({"books": books, "residual": True} if residual else books, fh)
    return books


def _residualize(assigned: DataFrame, cent: DataFrame, vec_col: str) -> DataFrame:
    """Add ``_res = round(x - centroid(cluster), 6)`` to an
    :func:`ivf_assign` output — one broadcast join against the tiny
    centroid relation plus an in-row zip_with; no corpus shuffle."""
    c = cent.select(F.col("_cid").alias("cluster"), F.col("_cent").alias("_rc"))
    return (
        assigned.join(F.broadcast(c), "cluster")
        .withColumn(
            "_res",
            F.expr(
                f"zip_with({vec_col}, _rc, "
                "(x, y) -> round(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 6))"
            ),
        )
        .drop("_rc")
    )


def _ccd_map_lit(cent: DataFrame, books, d: int) -> Column:
    """``map<bigint, array<array<double>>>``: cluster id →
    ``dot(centroid_sub, book[sub][code])`` per (sub, code) — the
    residual-reconstruction cross terms, collected once from the tiny
    centroid relation (n_clusters rows) and parsed as one literal
    (n_clusters × m × k doubles; 16×8×64 ≈ 8k tokens, milliseconds)."""
    rows = cent.select("_cid", "_cent").collect()
    m = len(books)
    entries = []
    for r in rows:
        cv = [float(x) for x in r["_cent"]]
        mat = "array(" + ",".join(
            "array(" + ",".join(
                _dlit(sum(cv[i * d + j] * books[i][c][j] for j in range(d)))
                for c in range(len(books[i]))
            ) + ")"
            for i in range(m)
        ) + ")"
        entries.append(f"{int(r['_cid'])}L, {mat}")
    return F.expr("map(" + ",".join(entries) + ")")


def _load_books_meta(path: str):
    """(books, residual_flag) from the codebooks sidecar — legacy
    indexes stored the bare books list; residual indexes a dict."""
    import json

    with open(f"{path}/codebooks.json") as fh:
        meta = json.load(fh)
    if isinstance(meta, dict):
        return meta["books"], bool(meta.get("residual"))
    return meta, False


def _index_generations(path: str) -> dict:
    """{gen: data-dir basename} for every VALID compaction pointer at an
    IVF-PQ index root — same validity discipline as the durable-state
    pointer protocol (operators/state.py): the ``g{N}.json`` file
    parses, its content checksum matches, and the named generation
    directory's ``_COMPACTED`` manifest exists. A partial pointer from a
    crashed compaction fails the checksum and is simply not a commit."""
    import hashlib as _hashlib
    import json as _json
    import os as _os
    import re as _re

    out: dict = {}
    if not _os.path.isdir(path):
        return out
    pat = _re.compile(r"^g(\d+)\.json$")
    for f in _os.listdir(path):
        m = pat.match(f)
        if not m:
            continue
        try:
            with open(_os.path.join(path, f)) as fh:
                line, digest = fh.read().rsplit("\n", 1)
            if _hashlib.sha256(line.encode()).hexdigest() != digest.strip():
                continue
            meta = _json.loads(line)
        except (ValueError, OSError):
            continue  # torn / partial pointer: not a commit
        target = meta.get("dir", "")
        if (
            meta.get("gen") == int(m.group(1))
            and _re.match(r"^gen_g(\d+)_[0-9a-f]+$", target)
            and _os.path.exists(_os.path.join(path, target, "_COMPACTED"))
        ):
            out[int(m.group(1))] = target
    return out


def _stream_tier_bids(tier_dir: str) -> "set[int]":
    """The set of ``_bid`` batch partitions present under a stream tier
    (``codes_stream``/``raw_stream``) — a driver-side directory walk of
    ``cluster=*/_bid=*``, two shallow listdir levels, no Spark job. Also
    the probe-side guard: a tier dir whose batches were all folded and
    deleted has no parquet left to infer a schema from, so reads are
    gated on this being non-empty."""
    import os as _os

    out: set = set()
    if not _os.path.isdir(tier_dir):
        return out
    for c in _os.listdir(tier_dir):
        cdir = _os.path.join(tier_dir, c)
        if not (c.startswith("cluster=") and _os.path.isdir(cdir)):
            continue
        for b in _os.listdir(cdir):
            if b.startswith("_bid=") and _os.path.isdir(_os.path.join(cdir, b)):
                try:
                    out.add(int(b.split("=", 1)[1]))
                except ValueError:
                    pass
    return out


def _resolve_index_tiers(path: str) -> dict:
    """Resolve the LIVE tier layout of a persisted IVF-PQ index:

    ``{"gen": N, "codes": dir, "raw": dir_or_None, "bid_cut": B}``

    Generation 0 is the implicit original layout (``{path}/codes`` +
    optional ``{path}/raw``, ``bid_cut`` 0 = every streamed ``_bid``
    partition visible). Each :func:`ivfpq_compact` commit adds an
    immutable generation directory plus a checksummed create-exclusive
    ``g{N}.json`` pointer recording the folded-batch watermark
    ``bid_cut``; the highest VALID pointer wins. Probes read the
    resolved codes/raw dirs unioned with the stream tiers filtered to
    ``_bid >= bid_cut`` — folded batches are invisible even if a live
    stream's at-least-once replay rewrites their partitions, which is
    what keeps compaction exactly-once-safe under replay."""
    import os as _os

    gens = _index_generations(path)
    if gens:
        import json as _json

        n = max(gens)
        gen_dir = _os.path.join(path, gens[n])
        with open(_os.path.join(gen_dir, "_COMPACTED")) as fh:
            meta = _json.load(fh)
        raw = _os.path.join(gen_dir, "raw")
        return {
            "gen": n,
            "codes": _os.path.join(gen_dir, "codes"),
            "raw": raw if _os.path.isdir(raw) else None,
            "bid_cut": int(meta.get("bid_cut", 0)),
        }
    raw = _os.path.join(path, "raw")
    return {
        "gen": 0,
        "codes": _os.path.join(path, "codes"),
        "raw": raw if _os.path.isdir(raw) else None,
        "bid_cut": 0,
    }


def ivfpq_topk(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 3,
    k: int = 5,
    rerank: int | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`ivfpq_write_index`).

    Same routing as :func:`ivf_topk_from_index` — queries pick their
    ``nprobe`` closest coarse centroids and dynamic partition pruning
    turns the candidate join into a directory skip — but candidates are
    scored by ADC over their stored codes: the raw corpus vectors are
    never read at probe time. Returns (query_id, rank, neighbor_id,
    score).

    ``rerank=R`` (requires an index written with ``store_raw=True``)
    keeps the top R per query by ADC, exact-rescales them against the
    ``raw/`` store — joined on (cluster, id) with the tiny shortlist
    broadcast, so partition pruning still skips unprobed cluster
    directories — and returns the top ``k`` of the exact ordering as
    (query_id, rank, neighbor_id, score) — the score IS the exact
    cosine there. This is the recall fix for PQ-hostile
    distributions at the cost of reading ≤ R raw vectors per query.

    Measured production configuration (RECALL.json, sf0.1, recall@10):
    16 clusters with k=64 codebooks, nprobe=8 + rerank=200 → **0.806**;
    nprobe=12 + rerank=200 → **0.880** (vs 0.572 for the r4 k=16
    chain). Codebook resolution and shortlist depth are the levers;
    probe width buys the last decade. Floor-pinned in
    tests/test_datatools.py::test_pq_rerank_and_multiprobe_quality.

    Stable score column (r7; r8 completed the deprecation): BOTH paths
    return exactly (query_id, rank, neighbor_id, score) — the ADC
    approximation without ``rerank``, the exact cosine with it. The
    legacy path-specific duplicates (``adc_score`` / ``cosine``) were
    carried for the r7 deprecation round only and are gone; callers
    wanting a different column name pass ``score_col=<name>``.

    Probe/compactor interleaving: layout resolution and the tier reads
    are not atomic — a concurrent :func:`ivfpq_compact` commit+cleanup
    can delete the just-superseded generation or a drained stream tier
    between this probe's ``_resolve_index_tiers`` call and its
    ``spark.read.parquet``. The plan build therefore retries ONCE on
    ``AnalysisException``, re-resolving the layout (the pointer
    protocol guarantees the NEW generation is committed before the old
    one is deleted, so the second resolution always sees a complete
    layout). One concurrent compaction per probe assumed — same
    single-writer spirit as the rest of the index machinery.

    The retry covers the PLAN-BUILD window only (ADVICE r7 #3): the
    returned DataFrame is lazy, so a compaction cleanup that deletes a
    superseded generation or a folded ``_bid`` directory between this
    call's return and the caller's action can still surface as a
    task-level FileNotFound at execution time. Callers that can race a
    compactor should act on the result promptly (or cache/checkpoint
    it); ``keep_generations >= 2`` (the default) keeps the previous
    generation on disk through the next fold, which in practice gives
    in-flight probes a full compaction cycle to finish.
    """
    from pyspark.errors import AnalysisException

    try:
        return _ivfpq_topk_build(
            spark, path, queries, id_col=id_col, vec_col=vec_col,
            nprobe=nprobe, k=k, rerank=rerank, score_col=score_col,
        )
    except AnalysisException:
        # reader/compactor race: the resolved generation or a stream
        # tier vanished mid-build — re-resolve once against the newly
        # committed layout (ADVICE r6 #3)
        return _ivfpq_topk_build(
            spark, path, queries, id_col=id_col, vec_col=vec_col,
            nprobe=nprobe, k=k, rerank=rerank, score_col=score_col,
        )


def _ivfpq_topk_build(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    nprobe: int,
    k: int,
    rerank: "int | None",
    score_col: "str | None",
) -> DataFrame:
    """One probe-plan build against the layout as currently resolvable —
    see :func:`ivfpq_topk` for semantics and the retry contract."""
    books, residual = _load_books_meta(path)
    cent = spark.read.parquet(f"{path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm_expr(vec_col).alias("_qn"),
    )
    qc = q.crossJoin(F.broadcast(cent)).withColumn(
        "_cos",
        _qc_cos_hoisted(),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    probe_cols = ["query_id", "_qv", "_qn", F.col("_cid").alias("cluster")]
    if residual:
        # residual reconstruction needs dot(q, c) and |c|² per probed
        # pair — both free here where the centroid is already in-row
        probe_cols += [
            dot_expr("_qv", "_cent").alias("_qdotc"),
            (F.col("_cnorm") * F.col("_cnorm")).alias("_cnsq"),
        ]
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(*probe_cols)
    )
    def _cand(tier: DataFrame) -> DataFrame:
        return tier.join(F.broadcast(probes), "cluster").filter(
            F.col(id_col) != F.col("query_id")
        )

    # streaming-maintained tier (streaming/ann.py): batch-id-versioned
    # partitions under the same cluster keys. Each tier is joined with
    # the broadcast probe relation BEFORE the union — dynamic partition
    # pruning attaches per scan, and a union of scans defeats it
    # (verified on the executed plan: union-then-join loses the
    # dynamicpruning PartitionFilters on BOTH sides; join-then-union
    # keeps one per tier), so the pruned-directory-skip property the
    # index exists for survives streamed appends. The layout resolver
    # picks the live compaction generation, and the bid_cut watermark
    # (static filter on the _bid PARTITION column — a directory skip)
    # hides batches already folded into the base, so a live stream's
    # at-least-once replay of a folded batch can never double a vector.
    layout = _resolve_index_tiers(path)
    cand = _cand(spark.read.parquet(layout["codes"]))
    if _stream_tier_bids(f"{path}/codes_stream"):
        stream = spark.read.parquet(f"{path}/codes_stream")
        if layout["bid_cut"]:
            stream = stream.filter(F.col("_bid") >= layout["bid_cut"])
        cand = cand.unionByName(_cand(stream.drop("_bid")))
    m = len(books)
    d = len(books[0][0])
    csq = [[round(sum(v * v for v in c), 6) for c in sub] for sub in books]
    # per-subspace ADC dots / reconstruction terms as ONE parsed
    # expression each (python fold builders pay ~100 ms of py4j per HOF);
    # the leading CAST(0.0 AS DOUBLE) keeps the left-to-right accumulation
    # order of the former python sum(..., init) fold
    adc_dot = F.expr(
        "CAST(0.0 AS DOUBLE) + "
        + " + ".join(_adc_sub_dot_sql("_qv", "codes", books, i, d) for i in range(m))
    )
    csq_sum = F.expr(
        "CAST(0.0 AS DOUBLE) + "
        + " + ".join(
            f"element_at(element_at({_mat_sql(csq)}, {i + 1}), "
            f"CAST(element_at(codes, {i + 1}) AS INT) + 1)"
            for i in range(m)
        )
    )
    # query norm hoisted into the probe relation (once per query, not
    # re-folded per candidate code row — see _cos_hoisted_expr)
    qn = F.col("_qn")
    if residual:
        # x ≈ c + decode(code):  dot(q,x) = dot(q,c) + dot(q,decode)
        # and |x|² = |c|² + 2·dot(c,decode) + |decode|². The cross term
        # dot(c, decode) is a pure (cluster, sub, code) constant —
        # precomputed driver-side into one parsed map literal (tiny:
        # n_clusters × m × k doubles), so scoring stays in-row.
        ccd_map = _ccd_map_lit(cent, books, d)
        ccd_sum = sum(
            [
                F.element_at(
                    F.element_at(
                        F.element_at(ccd_map, F.col("cluster")), i + 1
                    ),
                    F.element_at("codes", i + 1).cast("int") + 1,
                )
                for i in range(m)
            ],
            F.lit(0.0).cast("double"),
        )
        rec_n = F.sqrt(
            F.greatest(
                F.col("_cnsq") + F.lit(2.0) * ccd_sum + csq_sum, F.lit(0.0)
            )
        )
        scored = cand.withColumn(
            "adc_score",
            F.round(
                (F.col("_qdotc") + adc_dot) / F.nullif(qn * rec_n, F.lit(0.0)),
                6,
            ),
        )
    else:
        rec_n = F.sqrt(csq_sum)
        scored = cand.withColumn(
            "adc_score", F.round(adc_dot / F.nullif(qn * rec_n, F.lit(0.0)), 6)
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc_nulls_last(), F.col(id_col).asc()
    )
    if rerank is None:
        out_scores = [F.col("adc_score").alias(score_col or "score")]
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", F.col("rank").cast("long").alias("rank"),
                F.col(id_col).alias("neighbor_id"),
                *out_scores,
            )
        )
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "_qv", "_qn", "cluster", F.col(id_col).alias("neighbor_id"))
    )
    if layout["raw"] is None:
        raise ValueError(
            f"ivfpq_topk(rerank={rerank}) needs the raw vector tier of "
            f"{path} — write the index with "
            "ivfpq_write_index(..., store_raw=True)"
        )
    def _exact(tier: DataFrame) -> DataFrame:
        # join-then-union, same DPP rationale as the codes tiers above
        return tier.select(
            "cluster", F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"), norm_expr(vec_col).alias("_cn"),
        ).join(F.broadcast(short), ["cluster", "neighbor_id"])

    exact = _exact(spark.read.parquet(layout["raw"]))
    if _stream_tier_bids(f"{path}/raw_stream"):
        rstream = spark.read.parquet(f"{path}/raw_stream")
        if layout["bid_cut"]:
            rstream = rstream.filter(F.col("_bid") >= layout["bid_cut"])
        exact = exact.unionByName(_exact(rstream.drop("_bid")))
    exact = exact.withColumn("cosine", _cos_hoisted_expr("_qv", "_cv", "_qn", "_cn"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    out_scores = [F.col("cosine").alias(score_col or "score")]
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "neighbor_id", *out_scores,
        )
    )


def ivfpq_append_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF-PQ index: the new
    batch is routed with the index's stored centroids and encoded with
    its stored codebooks (both read from the sidecars), then appended
    into the cluster partitions — existing partitions are never read or
    rewritten, the same maintenance shape as :func:`ivf_append_index`.
    Probes see the union immediately and append-then-probe equals a
    full rebuild with the same quantizers (test-verified). Re-train and
    rewrite when the distribution drifts, as every production IVF-PQ
    deployment periodically does.

    An index written with ``store_raw=True`` gets its ``raw/`` tier
    appended too — otherwise new vectors would surface in the ADC
    shortlist but silently vanish from ``rerank=`` results (the exact
    pass inner-joins the raw tier).

    Appends land in the LIVE compaction generation
    (:func:`_resolve_index_tiers`) — after
    :func:`~pygrametl_spark.streaming.ann.ivfpq_compact` has rolled the
    base forward, appending into the superseded gen-0 dirs would
    silently hide the new vectors from every probe.

    Concurrency contract: do not append WHILE a compaction is running —
    an append that resolves generation N as a compaction commits N+1
    lands its files in a directory that rotation may delete (the
    streamed-upsert path has no such window: its `_bid` partitions are
    watermark-protected, which is why continuous ingest should use
    :func:`~pygrametl_spark.streaming.ann.ivfpq_upsert_fn` and treat
    this function as quiesced one-off maintenance, the same
    single-writer discipline as everything else here).
    """
    spark = df.sparkSession
    books, residual = _load_books_meta(path)
    cent = spark.read.parquet(f"{path}/centroids")
    d = len(books[0][0])
    layout = _resolve_index_tiers(path)
    assigned = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=cent)
    enc_col = vec_col
    if residual:  # encode with the index's own formulation
        assigned = _residualize(assigned, cent, vec_col)
        enc_col = "_res"
    coded = assigned.select(
        id_col, "cluster",
        _pq_assign_codes(enc_col, books, len(books), d).alias("codes"),
    )
    coded.write.mode("append").partitionBy("cluster").parquet(layout["codes"])
    if layout["raw"] is not None:
        assigned.select(id_col, "cluster", vec_col).write.mode(
            "append"
        ).partitionBy("cluster").parquet(layout["raw"])
