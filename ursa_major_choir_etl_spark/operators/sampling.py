"""Sampling operators for training-data curation.

Spark's native sampling is already distributed and
reproducible-with-seed; what a pipeline needs on top is the contract.
``split_train_eval`` is the plain id-hash split, kept as the reference
that ``split_train_eval_cluster_pure``'s singleton membership is tested
against. Results are SAMPLES — not oracle-checkable against
SQL — so the tests assert statistical properties (per-stratum rates,
determinism, disjointness) rather than value hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_train_eval(
    df: DataFrame,
    eval_fraction: float = 0.01,
    id_col: str | None = None,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic train/eval split.

    With ``id_col``: HASH-based split — membership depends only on the
    id value, so it is stable across runs, re-partitioning, AND
    incremental data growth (a doc never migrates between splits when
    new data arrives; the property that keeps eval sets uncontaminated
    as the corpus grows). Without it: randomSplit with a seed (stable
    only for identical input partitioning).

    Returns (train, eval).
    """
    if id_col is not None:
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
        thresh = int(eval_fraction * 1_000_000)
        is_eval = bucket < thresh
        return df.filter(~is_eval), df.filter(is_eval)
    train, ev = df.randomSplit([1.0 - eval_fraction, eval_fraction], seed=seed)
    return train, ev


def split_train_eval_cluster_pure(
    df: DataFrame,
    labels: DataFrame,
    eval_fraction: float = 0.01,
    id_col: str = "doc_id",
    seed: int = 42,
    portable_hash: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Leakage-free train/eval split: membership is decided by the
    doc's near-dup CLUSTER (the connected-component label table, e.g.
    the materialized cc_labels artifact), not the doc id — so two
    near-duplicates can never land on opposite sides of the split,
    the contamination channel a doc-keyed split leaves open and the
    split-leakage audit measures. Docs with no label row (never in
    any near-dup pair) key on their own id, which IS their singleton
    component.

    Same hash discipline as split_train_eval's id path: xxhash64
    bucket on the split key, stable across runs, repartitioning, and
    corpus growth — with the cluster-level caveat stated honestly: if
    a NEW pair later merges two clusters that hashed to different
    sides, the merged cluster re-keys to its (min-id) component and
    docs can migrate; re-splitting after label updates is the point,
    since the old split was exactly the leaking one.

    Plan shape: one equi-join against the label scan (broadcastable
    when the label table is small, shuffle-hash under AQE when not)
    and a column-local hash filter — no window, no global ordering.

    Returns (train, eval).
    """
    # The split key is hashed UNCAST: xxhash64 is type-generic, and a
    # component label always has the id's own type (it IS the cluster's
    # min id), so coalesce needs no coercion. The earlier cast('long')
    # NULLed non-numeric ids (connected_components explicitly supports
    # string ids), collapsing every unlabeled such doc into the single
    # NULL hash bucket — all singletons on one side (round-9 ADVICE).
    # Uncast also keeps singleton membership bit-identical to
    # split_train_eval's id path, which hashes the raw column.
    key = F.coalesce(F.col("component"), F.col(id_col))
    joined = df.join(labels.withColumnRenamed("node", id_col), id_col, "left")
    if portable_hash:
        # md5-nibble bucket (dedup.bloom_position_sql): the identical
        # expression text runs in DuckDB, so a SQL oracle replays the
        # membership bit-for-bit — the oracle-gated registry mode.
        # xxhash64 stays the default: one JVM intrinsic vs an md5 per
        # row, and membership only needs engine-portability when an
        # oracle certifies it.
        from ursa_major_choir_etl_spark.operators.dedup import (
            bloom_position_sql,
        )

        modulus = 16**5
        bucket = F.expr(
            bloom_position_sql(seed, "CAST(_split_key AS STRING)", 5)
        )
        keyed = joined.withColumn("_split_key", key).withColumn(
            "_bucket", bucket
        ).drop("_split_key")
    else:
        modulus = 1_000_000
        keyed = joined.withColumn(
            "_bucket", F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(modulus))
        )
    thresh = int(eval_fraction * modulus)
    is_eval = F.col("_bucket") < thresh
    drop = ["component", "_bucket"]
    return (
        keyed.filter(~is_eval).drop(*drop),
        keyed.filter(is_eval).drop(*drop),
    )


def weighted_sample_sequential_poisson(
    df: DataFrame,
    weight: "F.Column",
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
    nibbles: int = 5,
) -> DataFrame:
    """Deterministic weight-proportional corpus sampling (sequential
    Poisson / Ohlsson): draw ``n`` docs with inclusion probability
    approximately proportional to ``weight`` — the curation op for
    "sample 1B tokens favoring high-quality docs".

    Each doc gets a pseudo-uniform u from the md5 nibbles of its id
    (exact: an integer in [0, 16^nibbles) plus 0.5, divided by a power
    of two — no rounding at all), and the sample is the n SMALLEST
    u/weight keys. Everything after u is ONE IEEE division, so the
    keys are bit-identical in any engine — unlike the textbook
    Efraimidis–Spirakis u^(1/w) key, whose pow/log would drag libm
    variance into the order statistics. A SQL oracle therefore
    value-hashes the exact sample.

    Scale shape: orderBy+limit plans as TakeOrderedAndProject —
    per-partition n-element heaps, driver merge of n rows; no global
    sort, no shuffle of the corpus. Rows with weight <= 0 are excluded
    (they'd sort first and hijack the sample).

    Weights are kept as DOUBLE — fractional weights in (0, 1) keep
    their proportionality (an earlier revision cast to long, which
    silently truncated them to 0 and excluded them). For a SQL value
    oracle the weight EXPRESSION must itself be engine-portable (an
    integer-valued or otherwise exactly-representable computation,
    e.g. octet_length); the u/weight key is then one IEEE division,
    bit-identical in any engine.

    Output: (id, weight, sample_key), ascending by key.
    """
    from ursa_major_choir_etl_spark.operators.dedup import bloom_position_sql

    m = 16**nibbles
    pos = F.expr(bloom_position_sql(seed, f"CAST({id_col} AS STRING)", nibbles))
    u = (pos + F.lit(0.5)) / F.lit(float(m))
    w = weight.cast("double")
    return (
        df.filter(w > 0)  # before the division: ANSI mode errors on /0
        .select(
            F.col(id_col),
            w.alias("weight"),
            (u / w).alias("sample_key"),
        )
        .orderBy("sample_key", id_col)
        .limit(n)
    )


def grouped_weighted_sample(
    df: DataFrame,
    group_col: str,
    weight: "F.Column",
    n_per_group: int,
    id_col: str = "doc_id",
    seed: int = 0,
    nibbles: int = 5,
) -> DataFrame:
    """Per-stratum weight-proportional sampling: within every
    ``group_col`` value (language, source, domain), draw
    ``n_per_group`` docs with inclusion probability ~ ``weight`` —
    the "keep the best N docs per language" curation step, where a
    single global sample would let the dominant language swallow the
    budget.

    Keys are the same deterministic sequential-Poisson u/weight as
    ``weighted_sample_sequential_poisson`` (md5-nibble uniform, one
    IEEE division — bit-replayable in SQL); the per-group top-n is a
    row_number window PARTITIONED BY the group, so the only shuffle
    is on the group key and no global sort exists. Groups with fewer
    than ``n_per_group`` eligible docs return all of them (the honest
    contract). Weights <= 0 are excluded, as in the global variant.

    Output: (group, id, weight, sample_key, rn), rn = 1..n within
    group ordered by key.
    """
    from pyspark.sql import Window

    from ursa_major_choir_etl_spark.operators.dedup import bloom_position_sql

    m = 16**nibbles
    pos = F.expr(bloom_position_sql(seed, f"CAST({id_col} AS STRING)", nibbles))
    u = (pos + F.lit(0.5)) / F.lit(float(m))
    w = weight.cast("double")
    win = Window.partitionBy(group_col).orderBy("sample_key", id_col)
    return (
        df.filter(w > 0)
        .select(
            F.col(group_col),
            F.col(id_col),
            w.alias("weight"),
            (u / w).alias("sample_key"),
        )
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= n_per_group)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    cents_col: str,
    n_sample: int = 10_000,
) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934): split a stratified
    sample budget proportionally to N_h·S_h — strata that are bigger
    OR more variable get more of the budget; the allocation every
    serious survey/eval sampler uses instead of proportional-to-size.

    Exact integer throughout. Per stratum, the sum of squared
    deviations scaled by n²:  ssd_h = n_h·Σx² − (Σx)²  (DECIMAL(38,0)
    — 1e10 rows of 1e8-cent values cannot overflow), and N_h·σ_h =
    isqrt(ssd_h) EXACTLY: seed s = floor(sqrt(double(ssd))), then two
    integer corrections (±1) against the DECIMAL value — the double
    seed is within 1 of the true root for ssd < ~4e30 (beyond that
    the share drifts sub-ppm; documented bound), and the corrections
    make the result independent of either engine's float rounding.

    Output per stratum: (stratum, n_h, mean_cents, n_sigma_cents,
    alloc_n = n_sample·w DIV Σw, share_ppm), ordered by stratum.
    One corpus-sized groupBy; everything after is stratum-count rows.
    """
    agg = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.expr(f"CAST({cents_col} AS DECIMAL(38,0))")).alias("_s"),
        F.sum(
            F.expr(
                f"CAST({cents_col} AS DECIMAL(38,0)) * {cents_col}"
            )
        ).alias("_sq"),
    )
    w = (
        agg.withColumn("_ssd", F.expr("n_h * _sq - _s * _s"))
        .withColumn(
            "_s0",
            F.expr("CAST(floor(sqrt(CAST(_ssd AS DOUBLE))) AS BIGINT)"),
        )
        .withColumn(
            "_s1",
            F.expr(
                "_s0 + (CASE WHEN CAST(_s0 + 1 AS DECIMAL(38,0))"
                " * (_s0 + 1) <= _ssd THEN 1 ELSE 0 END)"
            ),
        )
        .withColumn(
            "_w",
            F.expr(
                "_s1 - (CASE WHEN CAST(_s1 AS DECIMAL(38,0)) * _s1"
                " > _ssd THEN 1 ELSE 0 END)"
            ),
        )
    )
    tot = w.agg(F.sum("_w").alias("_tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_h",
            F.expr("CAST(_s DIV n_h AS BIGINT)").alias("mean_cents"),
            F.col("_w").alias("n_sigma_cents"),
            F.expr(
                f"CAST({n_sample} * CAST(_w AS DECIMAL(38,0)) DIV _tw"
                " AS BIGINT)"
            ).alias("alloc_n"),
            F.expr(
                "CAST(CAST(_w AS DECIMAL(38,0)) * 1000000 DIV _tw"
                " AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("stratum")
    )


def systematic_pps_sample(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow
    1949): lay the integer weights end-to-end in ``order_col`` order,
    then take the k items whose weight interval contains one of the k
    equally-spaced picks  off, off+step, ..., off+(k-1)·step  with
    step = W DIV k and off = step DIV 2. Zero randomness — the
    deterministic-fixture counterpart of the sequential-Poisson
    samplers above: same inclusion probabilities ~ w_i, but
    single-pass and value-hash oracle-checkable, since there is no
    RNG to replay.

    An item with w_i > step can be picked multiple times; ``n_picks``
    reports the multiplicity. sum(n_picks) is exactly k whenever
    off >= W mod k (always true once W >= ~2k^2 — the regime PPS
    sampling exists for) and k+1 in the tiny-W corner.

    100 TB shape: the running weight offset is the two-level bucketed
    prefix scan (operators/prefix.py) — no global window/sort at any
    size; everything else is a per-row integer formula. Intervals are
    shifted by +step before the floor divisions so no operand is ever
    negative (integer division truncates toward zero in both engines;
    keeping operands non-negative makes truncation == floor).

    Output: the selected rows only —
    (order_col, weight_col, cum_weight, n_picks).
    """
    from ursa_major_choir_etl_spark.caching import stage
    from ursa_major_choir_etl_spark.operators.prefix import bucketed_cumsum

    base = df.select(order_col, weight_col).filter(
        F.col(weight_col) > 0
    )
    cum = stage(
        bucketed_cumsum(
            base, order_col, {"cum_weight": F.col(weight_col)}
        )
    )
    tot = cum.agg(F.max("cum_weight").alias("_w_total"))
    sel = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("_step", F.expr(f"greatest(_w_total DIV {k}, 1)"))
        .withColumn("_off", F.expr("_step DIV 2"))
        .withColumn(
            "n_picks",
            F.expr(
                "CAST((cum_weight + _step - 1 - _off) DIV _step"
                f" - (cum_weight - {weight_col} + _step - 1 - _off)"
                " DIV _step AS INT)"
            ),
        )
    )
    return sel.filter(F.col("n_picks") > 0).select(
        order_col, weight_col, "cum_weight", "n_picks"
    )
