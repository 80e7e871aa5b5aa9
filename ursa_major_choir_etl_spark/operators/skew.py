"""Skew-mitigation operators.

AQE's skew-join splitting (on in session.py) handles most runtime skew;
salted_aggregate covers the case AQE can't: a groupBy whose hot key
overwhelms one reducer. Two-phase: partial agg on (key, salt), final
agg on key. Salt is deterministic (hash of a spread column mod
buckets) so runs are reproducible, and the result is exact — tests
compare against the unsalted plan row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: aggregate name -> (partial expr builder, final expr builder)
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
    spread_col: str | None = None,
) -> DataFrame:
    """Two-phase aggregation over (keys + salt) then (keys).

    ``aggs``: output_name -> (op, column), op in sum/count/min/max
    (algebraic ops only — they re-combine exactly).
    ``spread_col``: column whose hash spreads the hot key's rows
    across buckets; defaults to the first non-key column.
    """
    spread = spread_col or next(c for c in df.columns if c not in keys)
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(spread)), F.lit(buckets)))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _ALGEBRAIC[op][0](col).alias(f"_p_{name}")
            for name, (op, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[op][1](f"_p_{name}").alias(name)
            for name, (op, col) in aggs.items()
        ]
    )


def join_key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    table_name: str,
    salt_threshold_x_mean: int = 10,
) -> DataFrame:
    """Join-key skew profiler: the reconnaissance a planner runs
    BEFORE choosing a 100 TB join strategy. For each candidate key
    column: exact cardinality, the hottest key and its count, and
    skew_x_mean_ppm = max_count / mean_count in ppm (1e6 = perfectly
    uniform). salt_recommended fires when the hot key exceeds
    ``salt_threshold_x_mean`` times the mean — the regime where one
    reducer inherits the whole key and salting (:func:`salted_aggregate`)
    or AQE's skew split pays for itself.

    Scale shape: ONE scan explodes (column, value) pairs — so
    profiling k columns costs one pass, not k — into one count
    shuffle keyed (column, value) (well-spread by construction:
    hot VALUES of one column are still distinct shuffle keys), then a
    per-column aggregate. The hottest key resolves deterministically
    via max(struct(count, value)) — count first, value as tie-break —
    identical lexicographic struct ordering in both engines. NULL key
    values are profiled as the literal 'NULL' (nulls are a real join
    hazard, not a row to drop).

    Output per column: (table_name, key_col, n_rows, n_distinct,
    max_count, top_key, skew_x_mean_ppm, salt_recommended).
    """
    kv = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key_col"),
                        F.coalesce(
                            F.col(c).cast("string"), F.lit("NULL")
                        ).alias("_k"),
                    )
                    for c in key_cols
                ]
            )
        ).alias("e")
    ).select("e.key_col", "e._k")
    counts = kv.groupBy("key_col", "_k").agg(F.count(F.lit(1)).alias("_c"))
    return (
        counts.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("_c").alias("n_rows"),
            F.max("_c").alias("max_count"),
            F.max(
                F.struct(F.col("_c").alias("c"), F.col("_k").alias("k"))
            ).alias("_top"),
        )
        .select(
            F.lit(table_name).alias("table_name"),
            "key_col",
            "n_rows",
            "n_distinct",
            "max_count",
            F.col("_top.k").alias("top_key"),
            F.expr(
                "CAST(CAST(max_count AS DECIMAL(38,0)) * n_distinct"
                " * 1000000 DIV n_rows AS BIGINT)"
            ).alias("skew_x_mean_ppm"),
            F.expr(
                "CAST(CAST(max_count AS DECIMAL(38,0)) * n_distinct"
                f" > CAST({salt_threshold_x_mean} AS DECIMAL(38,0))"
                " * n_rows AS BIGINT)"
            ).alias("salt_recommended"),
        )
    )
