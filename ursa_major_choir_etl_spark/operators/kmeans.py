"""Deterministic distributed k-means (Lloyd's algorithm) over an
embedding column — the "iterative algorithm" family, built so that even
a SQL oracle can replay it bit-for-bit.

Determinism by construction (the cross-engine float pitfalls, all
avoided):
- vectors are integer-scaled (micro-units) BEFORE any arithmetic, so
  distances and centroid sums are exact bigint math — shuffle order
  cannot change a single bit;
- centroid means use truncating integer division (Spark ``DIV`` ==
  DuckDB ``//``, both toward zero);
- initial centroids are the k smallest ids (no RNG);
- argmin ties break on the smaller centroid id.

Spark shape (the 1000-executor story): centroids are model state —
k x dims bigints — collected to the driver between rounds and
rebroadcast as an inline k-row VALUES table (a LocalRelation, so the
broadcast runs no job); assignment is a broadcast nested-loop over
that tiny table (never a shuffle of the corpus); the centroid update
is one posexplode + map-side-combined groupBy(cid, dim) shuffle of at
most k x dims cells per executor. ``iters`` rounds collect ``iters -
1`` updates: the last round's assignment is the result, and a caller
that needs the final centroids aggregates them lazily from it. This
is the canonical Spark k-means layout (pyspark.ml's KMeans does the
same collect-and-broadcast of cluster centers per step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _sq_dist(a, b):
    """Exact integer squared L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _centroid_table(spark: SparkSession, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """``cents`` as an inline VALUES table (cid bigint, c array<bigint>).

    Spark plans it as a LocalRelation, which broadcasts without a job;
    ``createDataFrame`` over a Python list would parallelize an RDD and
    run one to collect it again."""
    if not cents:
        return spark.createDataFrame([], "cid bigint, c array<bigint>")

    def lit(v) -> str:
        return "NULL" if v is None else f"{v}L"

    rows = ", ".join(
        f"({cid}L, array({', '.join(lit(v) for v in c)}))" for cid, c in cents
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(cid, c)")


def _lloyd_rounds(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    iters: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared Lloyd driver loop: returns (id, cid, _xi), the assignment
    of round ``iters``. After the seed collect, each earlier round
    collects its centroid update; the last round's assignment stays
    lazy. Both the stats query (kmeans_lloyd_integer) and the
    semantic-dedup assignment consumer (kmeans_assignments_integer)
    replay the exact same deterministic rounds, so their SQL oracles
    share CTEs too."""
    from ursa_major_choir_etl_spark.caching import stage

    xi_df = stage(
        emb.select(
            F.col(id_col),
            F.transform(
                vec_col, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
            ).alias("_xi"),
        )
    )

    seed_rows = xi_df.orderBy(id_col).limit(k).collect()
    cents: list[tuple[int, list[int]]] = [
        (cid, list(row["_xi"])) for cid, row in enumerate(seed_rows)
    ]

    assigned = None
    for it in range(iters):
        scored = xi_df.crossJoin(F.broadcast(_centroid_table(spark, cents))).withColumn(
            "_d", _sq_dist(F.col("_xi"), F.col("c"))
        )
        best = F.min(
            F.struct(
                F.col("_d").alias("d"),
                F.col("cid").alias("cid"),
                F.col("_xi").alias("xi"),
            )
        ).alias("m")
        assigned = (
            scored.groupBy(id_col)
            .agg(best)
            .select(F.col(id_col), F.col("m.cid").alias("cid"), F.col("m.xi").alias("_xi"))
        )
        if it == iters - 1:
            break
        sums = (
            assigned.select("cid", F.posexplode("_xi").alias("pos", "xd"))
            .groupBy("cid", "pos")
            .agg(F.expr("sum(xd) DIV count(*)").alias("cv"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for row in sums:
            by_cid.setdefault(row["cid"], {})[row["pos"]] = row["cv"]
        cents = [
            (
                cid,
                [by_cid[cid][d] for d in range(len(old))]
                if cid in by_cid
                else old,
            )
            for cid, old in cents
        ]

    return assigned


def kmeans_lloyd_integer(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 4,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds; return per-cluster stats.

    Output: (cid, n_members, sum_vec_id, c_0..c_{out_dims-1}) — member
    count and exact id-sum of the FINAL assignment, plus the first
    ``out_dims`` coordinates of the centroid recomputed from it (all
    bigint; empty clusters emit no stats row, mirroring the oracle's
    group-by). The centroid is the same truncating mean the driver loop
    collects between rounds, aggregated here inside the stats group-by,
    so the last update runs under the caller's action.
    """
    assigned = _lloyd_rounds(spark, emb, k, iters, scale, id_col, vec_col)
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum(id_col).alias("sum_vec_id"),
        *[F.expr(f"sum(_xi[{d}]) DIV count(*)").alias(f"c_{d}") for d in range(out_dims)],
    )


def kmeans_assignments_integer(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final-round cluster ASSIGNMENTS (id, cid) — the clustering
    stage of SemDeDup-style semantic dedup, bit-replayable in SQL via
    the same deterministic rounds as kmeans_lloyd_integer."""
    assigned = _lloyd_rounds(spark, emb, k, iters, scale, id_col, vec_col)
    return assigned.select(F.col(id_col), F.col("cid"))
