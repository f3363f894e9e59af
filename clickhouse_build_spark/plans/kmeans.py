"""Distributed k-means (Lloyd's algorithm) over ``embeddings`` — the
cluster-training operator expressed ENTIRELY as DataFrame relational
algebra, no driver-side math, no sampling.

The IVF family (``operators/similarity.py``) trains its coarse
quantizer the way FAISS does: on a bounded sample collected to one
machine. That is the right production default, but the 10⁹-vector
story also needs the OTHER path — training on the full corpus when the
sample is not representative (heavy tails, many tiny clusters). This
module is that path: each Lloyd iteration is

- **assign**: broadcast the ≤k centroid ARRAYS as one collected row;
  each vector row computes its k integer squared-L2 distances and the
  argmin inline (``array_min`` over (dist, cluster) structs — ties
  break to the smaller cluster id, deterministically, exactly like the
  previous ``min(struct(...))`` grouped form). No explode, no join, no
  shuffle (r17 — the earlier n×D explode + per-dimension join built an
  n×D×k intermediate and shuffled twice per iteration);
- **update**: posexplode the assigned vectors and take the floored
  per-(cluster, d) mean — one map-side-combined k×D shuffle; a cluster
  that loses every member simply vanishes (documented Lloyd behavior,
  identical both engines).

**Fixed-point exactness**: coordinates are integerized once
(``floor(x*1e6+0.5)``, exact on float-valued doubles), so distances
and coordinate sums are pure INTEGER arithmetic — addition-order-free
— and the only FP step per iteration is the mean's ``floor(sum/count)``
of two exactly representable integers, bit-equal on both engines. The
oracle re-runs the SAME ``KM_ITERS`` iterations as nested CTEs
generated from the same Python constants, so Spark and DuckDB execute
the identical algorithm and must agree bit-for-bit.

Reference parity note: the reference (an LLM-migration CLI) has no
analogue; this is part of the driver-mandated similarity-search
surface (SURVEY.md §2 extension), the distributed twin of the sampled
IVF trainer at ``operators/similarity.py``.

Scale (100 TB): the quantized frame is n rows of D-long arrays; per
iteration the ONLY shuffle is the k×D coordinate-sum update, and it
combines map-side, so reducers see partials, not rows. The centroid
table is ≤k×D integers riding in one broadcast row; iteration count is
a fixed constant. Nothing is ever collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_build_spark.catalog import load_tables
from clickhouse_build_spark.plans.registry import query

KM_K = 8
KM_ITERS = 3
KM_SCALE = 1_000_000

# Floored integer mean of exactly representable integer sums.
_MEAN_SQL = "CAST(floor(CAST({s} AS DOUBLE) / {n}) AS BIGINT)"


def _qv_sql(operand: str) -> str:
    """Quantized-coordinate expression — ONE template both engines
    evaluate (the operand is an exactly-converted float→double)."""
    return f"CAST(floor({operand} * {KM_SCALE} + 0.5) AS BIGINT)"


def _kmeans_cte(iters: int) -> str:
    """The full iteration chain as DuckDB CTEs, generated from the same
    constants the Spark side uses: qd → cent0 → (dist/assign/cent)×N."""
    parts = [
        f"""
  q0 AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  ),
  qd0 AS (
    SELECT vec_id,
           UNNEST(list_transform(range(1, len(e) + 1),
             i -> struct_pack(d := i, qv := {_qv_sql('e[i]')}))) AS u
    FROM q0
  ),
  qd AS (SELECT vec_id, u.d AS d, u.qv AS qv FROM qd0),
  seeds AS (
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
    FROM embeddings ORDER BY vec_id LIMIT {KM_K}
  ),
  cent0 AS (
    SELECT s.cluster, q.d, q.qv AS cq FROM qd q JOIN seeds s USING (vec_id)
  )"""
    ]
    for i in range(iters):
        parts.append(
            f"""
  dist{i} AS (
    SELECT q.vec_id, c.cluster,
           CAST(SUM((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS dist
    FROM qd q JOIN cent{i} c USING (d)
    GROUP BY 1, 2
  ),
  assign{i} AS (
    SELECT vec_id, cluster, dist FROM (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM dist{i}) WHERE rn = 1
  ),
  cent{i + 1} AS (
    SELECT a.cluster, q.d,
           {_MEAN_SQL.format(s='CAST(SUM(q.qv) AS BIGINT)', n='count(*)')} AS cq
    FROM qd q JOIN assign{i} a USING (vec_id)
    GROUP BY 1, 2
  )"""
        )
    return ",".join(parts)


def _qv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q: array<long>) — the quantized vector, one row per
    vector (r17: was an n×D exploded frame; the array form keeps every
    per-vector computation in the scan stage)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * KM_SCALE + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )


def _init_centroid_arrays(
    spark: SparkSession, sf_dir: str, qv: DataFrame
) -> DataFrame:
    """(cluster, cq: array<long>) — the first KM_K vectors by id."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    seeds = emb.select("vec_id").orderBy("vec_id").limit(KM_K)
    w = Window.orderBy("vec_id")
    seeds = seeds.select(
        "vec_id", (F.row_number().over(w) - 1).cast("long").alias("cluster")
    )
    return qv.join(F.broadcast(seeds), "vec_id").select(
        "cluster", F.col("q").alias("cq")
    )


def _lloyd_step(
    qv: DataFrame, centa: DataFrame, dim: int
) -> tuple[DataFrame, DataFrame]:
    """One Lloyd iteration over array rows: (assignments carrying the
    vector, new centroid arrays).

    r17 shape (guide §2.4 remove shuffles): the previous form exploded
    vectors to n×D rows, broadcast-joined the k×D centroid rows by
    dimension (an n×D×k intermediate) and needed THREE keyed
    reassemblies per iteration (distance groupBy, argmin groupBy,
    update join by vec_id). Here the ≤k centroid ARRAYS ride in as one
    broadcast row, each vector computes every integer distance and its
    argmin inline (``array_min`` over (dist, cluster) structs — the
    identical lexicographic tie-break as ``min(struct(...))``), and the
    only shuffle left per iteration is the map-side-combined centroid
    update. Distances are the same left-to-right integer sums, so
    assignments, distances and centroids are bit-identical.

    r18 (guide §2.4 again): the update itself was still TWO exchanges —
    posexplode to n×D (cluster, d, qv) rows, groupBy (cluster, d), then
    a second groupBy (cluster) to collect the arrays back. With the
    dimension known (``dim``, read once from the corpus), one
    groupBy (cluster) computes every per-dimension integer sum as a
    column (map-side partials of D longs per cluster — identical bytes
    on the wire) and rebuilds the array inline: 2 exchanges → 1 per
    iteration and no n×D row blow-up. Each sum aggregates the same
    longs, integer addition is order-free, and the mean stays
    ``floor(CAST(sum AS DOUBLE) / count)`` — bit-identical centroids."""
    one = centa.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cluster", "cq"))).alias(
            "__cents"
        )
    )
    assign = qv.crossJoin(F.broadcast(one)).select(
        "vec_id",
        "q",
        F.array_min(
            F.transform(
                F.col("__cents"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("q"), c["cq"], lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    c["cluster"].alias("cluster"),
                ),
            )
        ).alias("s"),
    ).select(
        "vec_id",
        "q",
        F.col("s.cluster").alias("cluster"),
        F.col("s.dist").alias("dist"),
    )
    sums = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.col("q")[i]).alias(f"__s{i}") for i in range(dim)],
    )
    newcenta = sums.select(
        "cluster",
        F.array(
            *[
                F.floor(F.col(f"__s{i}").cast("double") / F.col("__n"))
                .cast("long")
                for i in range(dim)
            ]
        ).alias("cq"),
    )
    return assign, newcenta


_KM_STATE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def shared_kmeans(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(final assignments, final centroids) after ``KM_ITERS`` Lloyd
    iterations, built once per (session, sf_dir). The quantized-vector
    frame and each iteration's centroid arrays persist so the two
    registered queries and any downstream consumer share one training
    run. Returned centroids keep the (cluster, d, cq) row schema the
    consumers and the oracle CTEs expect."""
    from clickhouse_build_spark.plans.artifacts import session_artifact

    def build() -> tuple[DataFrame, DataFrame]:
        from pyspark import StorageLevel

        qv = _qv(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
        # D once from the corpus (one metadata-cheap first-row read);
        # feeds the single-shuffle column-wise centroid update
        first = qv.select("q").head()
        if first is None:
            qv.unpersist()
            raise ValueError("empty corpus: k-means has no embeddings to cluster")
        dim = len(first[0])
        centa = _init_centroid_arrays(spark, sf_dir, qv)
        assign = None
        for _ in range(KM_ITERS):
            centa.persist(StorageLevel.MEMORY_AND_DISK)
            assign, centa = _lloyd_step(qv, centa, dim)
        cent = (
            centa.select(
                "cluster", F.posexplode("cq").alias("__pos", "__cq")
            )
            .select(
                "cluster",
                (F.col("__pos") + 1).alias("d"),
                F.col("__cq").alias("cq"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        assign = assign.select("vec_id", "cluster", "dist").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return assign, cent

    key = (spark.sparkContext.applicationId, sf_dir)
    return session_artifact(_KM_STATE, key, build)


@query(
    "emb_kmeans_centroids",
    oracle=f"""
    WITH {_kmeans_cte(KM_ITERS)}
    SELECT cluster, d, cq FROM cent{KM_ITERS} ORDER BY cluster, d
    """,
    tags=("similarity", "embedding", "kmeans", "training", "pipeline"),
)
def emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained centroid table after ``KM_ITERS`` full-corpus Lloyd
    iterations: (cluster, dimension, fixed-point coordinate) — ≤k×D
    integer rows, the artifact an IVF index would take as its coarse
    quantizer when sampling is not an option.

    Scale: see the module docstring — per iteration, two map-side-
    combined integer shuffles (n×k distance partials, k×D coordinate
    partials) and one ≤k×D broadcast.
    """
    _, cent = shared_kmeans(spark, sf_dir)
    return cent.select("cluster", "d", "cq")


@query(
    "emb_kmeans_assign",
    oracle=f"""
    WITH {_kmeans_cte(KM_ITERS)}
    SELECT a.vec_id, e.label, a.cluster, a.dist
    FROM assign{KM_ITERS - 1} a JOIN embeddings e USING (vec_id)
    ORDER BY a.vec_id
    """,
    tags=("similarity", "embedding", "kmeans", "pipeline"),
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's final cluster and integer squared-L2 distance
    (the iteration-``KM_ITERS`` assignment, i.e. against the
    iteration-``KM_ITERS - 1`` centroids — standard Lloyd bookkeeping),
    joined with the vector's ground-truth label so cluster/label purity
    is inspectable downstream.

    Scale: the assignment is the iteration's own byproduct — this query
    adds only a key join to ``embeddings`` for the label column.
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    assign, _ = shared_kmeans(spark, sf_dir)
    return assign.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "cluster", "dist"
    )


# Serving from the distributed trainer (closing the loop): the trained
# centroid table IS a coarse quantizer — use it as the inverted-file
# cell structure for ANN, exactly how a production index consumes a
# training run. nprobe=2 of the k=8 cells.
KM_NPROBE = 2


def kmeans_centroid_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, ce DOUBLE[]) — the trained integer centroid table folded
    back to vectors (cq / 1e6; both engines perform the identical IEEE
    division, so the arrays are bit-equal cross-engine)."""
    _, cent = shared_kmeans(spark, sf_dir)
    return (
        cent.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cq"))).alias("s"))
        .select(
            F.col("cluster").alias("cell"),
            F.expr(
                f"transform(s, x -> CAST(x.cq AS DOUBLE) / {KM_SCALE}.0)"
            ).alias("ce"),
        )
    )


def _ann_oracle() -> str:
    from clickhouse_build_spark.plans.similarity import (
        QUERY_VEC_ID,
        TOP_K,
        _cos_sql,
    )

    return f"""
    WITH {_kmeans_cte(KM_ITERS)},
    cents AS (
      SELECT cluster AS cell,
             list(CAST(cq AS DOUBLE) / {KM_SCALE}.0 ORDER BY d) AS ce
      FROM cent{KM_ITERS} GROUP BY cluster
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    qv AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    assigned2 AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_cos_sql('v.e', 'c.ce')} DESC, c.cell
               ) AS rn
        FROM v, cents c
        WHERE v.vec_id <> {QUERY_VEC_ID}
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cell FROM cents, qv
      ORDER BY {_cos_sql('ce', 'qe')} DESC, cell
      LIMIT {KM_NPROBE}
    )
    SELECT a.vec_id, a.cell,
           round({_cos_sql('a.e', 'qe')}, 4) AS cos_sim
    FROM assigned2 a JOIN probe USING (cell), qv
    ORDER BY cos_sim DESC, vec_id
    LIMIT {TOP_K}
    """


@query(
    "emb_ann_kmeans_topk",
    oracle=_ann_oracle(),
    tags=("similarity", "ann", "ivf", "kmeans", "pipeline"),
)
def emb_ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served FROM the distributed trainer: the full-corpus Lloyd
    centroids become the IVF coarse quantizer — nearest-cell
    assignment, probe the ``KM_NPROBE`` nearest cells, exact top-k
    inside them. Unlike the sampled-trainer twins (recall-bound
    oracles), this chain is deterministic END TO END — integer
    centroids from the oracle-identical iterations, bit-equal
    centroid vectors, and the shared left-assoc cosine — so the
    DuckDB oracle re-derives the ENTIRE train→index→search pipeline
    and the result is hash-exact.

    Scale: training per the module docstring; serving is the standard
    IVF shape (broadcast ≤k×D centroids, one assignment pass, probe =
    broadcast semi-join filter — partition-pruned once the inverted
    file lands partitioned by cell).
    """
    from clickhouse_build_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
    )
    from clickhouse_build_spark.plans.similarity import (
        QUERY_VEC_ID,
        TOP_K,
        _vectors,
    )

    v = _vectors(spark, sf_dir)
    cents = kmeans_centroid_vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("e").alias("qe")
    )
    assigned = ivf_assign(v.filter(F.col("vec_id") != QUERY_VEC_ID), cents)
    return ivf_topk(assigned, cents, q, k=TOP_K, nprobe=KM_NPROBE)
