"""Mergeable sketches: a portable count-min sketch for heavy-hitter
frequencies, a log-bucket quantile sketch and portable HyperLogLog
registers — all JVM-side expressions.

Why this exists at 100 TB: an exact COUNT(DISTINCT) or frequency
count re-shuffles the raw data every time someone asks at a new
grain. A persisted per-partition sketch (a fixed-size table per
group) makes every coarser rollup an O(groups) merge of sketches —
daily sketches union into weekly/monthly/global answers WITHOUT
rescanning the fact table, and an incremental load only sketches the
new partition.

Estimates are approximate; the tests bound their error against exact
answers and verify the merge identity (union of per-day sketches ==
sketch of the whole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable heavy-hitter frequencies)
# ---------------------------------------------------------------------------
#
# The frequency analogue of an HLL sketch: a (depth x width) grid
# of counters whose size is FIXED regardless of data volume, additive
# under union (sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise), with a
# one-sided error guarantee (estimate >= true count always; overshoot
# <= e*N/width with probability 1 - (1/2)^depth). At 100 TB: per-day
# token sketches are a few thousand rows each; any window's heavy-hitter
# frequencies come from summing sketches, never rescanning text.
#
# The bucket hash is the portable md5-nibble construction (same trick as
# dedup.simhash32 / q65's mixture hash): identical results in Spark and
# ANSI SQL, so the whole sketch — build, merge, probe — is DuckDB-
# reproducible and q100 carries a full value-hash oracle, unusual for a
# "sketch" (the structure is approximate; its computation is exact).

_HEX = "0123456789abcdef"


def _cms_nibbles(width: int) -> int:
    n = 0
    w = width
    while w > 1:
        if w % 16:
            raise ValueError("cms width must be a power of 16")
        w //= 16
        n += 1
    return n


def cms_bucket(col: Column | str, d: int, width: int) -> Column:
    """Bucket of ``col`` under hash row ``d``: big-endian md5 nibbles
    of 'cms{d}:{value}', as a JVM expression with an exact DuckDB
    mirror (strpos on the same hex alphabet)."""
    n_nib = _cms_nibbles(width)
    h = F.md5(F.concat(F.lit(f"cms{d}:"), F.col(col) if isinstance(col, str) else col))
    out = F.lit(0)
    for i in range(n_nib):
        nib = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1
        out = out + nib * (16 ** (n_nib - 1 - i))
    return out


def cm_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 4096
) -> DataFrame:
    """Build the sketch: one row per non-empty (d, bucket) cell with
    its counter. One explode (xdepth) + one groupBy — a single shuffle
    whose output is at most depth*width rows however big ``df`` is.
    Merge sketches by unioning and summing ``cnt`` per (d, bucket)."""
    rows = df.select(
        F.posexplode(
            F.array(*[cms_bucket(col, d, width) for d in range(depth)])
        ).alias("d", "bucket")
    )
    return rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 4096,
    out_col: str = "est_n",
) -> DataFrame:
    """Point-query the sketch for each probe value: min over the depth
    counters the value hashes to. The sketch side is depth*width rows
    at most — always the broadcast side; probing N values is a
    broadcast join, not a shuffle. Unseen values estimate 0."""
    probed = probes.select(
        "*",
        F.posexplode(
            F.array(*[cms_bucket(col, d, width) for d in range(depth)])
        ).alias("d", "bucket"),
    )
    joined = probed.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def log_quantile_sketch(
    df: DataFrame, col: str, sub_bits: int = 3
) -> DataFrame:
    """Mergeable log-scale quantile histogram over a POSITIVE integer
    measure: each value lands in the bucket keyed by its top
    ``sub_bits``+1 binary digits — bucket_lo = (x >> m) << m with
    m = max(bit_length(x) - sub_bits - 1, 0) — so buckets are
    log-spaced with 2^sub_bits sub-buckets per octave and the bucket
    width bounds the relative error at 2^-sub_bits (12.5% at 3).

    The quantile sibling of the HLL/CMS sketches: (bucket_lo, cnt)
    rows merge by addition, so per-partition/per-day sketches roll up
    into any window's quantile estimate WITHOUT rescanning or
    re-sorting the raw data — at 100 TB an exact percentile is a full
    shuffle+sort; this is one map-side-combined groupBy over at most
    ~(64 - sub_bits) * 2^sub_bits buckets. All integer bit arithmetic
    (length(bin(x)) and shifts), so the sketch is bit-reproducible in
    SQL. Rows with x < 1 are excluded (log of nothing).
    """
    x = F.col(col).cast("long")
    src = (
        df.filter(x >= 1)
        .select(x.alias("_x"))
        .withColumn("_m", F.greatest(F.length(F.bin(F.col("_x"))) - (sub_bits + 1), F.lit(0)))
        .withColumn("_lo", F.expr("shiftleft(shiftright(_x, _m), _m)"))
    )
    return src.groupBy(F.col("_lo").alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def log_quantile_estimates(sketch: DataFrame, qs: list[float]) -> DataFrame:
    """Quantile estimates from a log_quantile_sketch: for each q the
    estimate is the bucket_lo where the cumulative count first reaches
    ceil(q * N) (disc semantics on the sketch). The window runs over
    the BUCKETS (bounded by construction, a few hundred rows), never
    the data. Output: (q, est_lo) per requested quantile.
    """
    from pyspark.sql import Window

    w = Window.orderBy("bucket_lo").rowsBetween(Window.unboundedPreceding, 0)
    cum = sketch.select(
        "bucket_lo",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(
            Window.orderBy("bucket_lo").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    qdf = cum.crossJoin(
        F.broadcast(
            cum.sparkSession.createDataFrame([(q,) for q in qs], "q double")
        )
    )
    thresh = F.ceil(F.col("q") * F.col("_n").cast("double")).cast("long")
    return (
        qdf.filter(F.col("_cum") >= thresh)
        .groupBy("q")
        .agg(F.min("bucket_lo").alias("est_lo"))
    )


def cm_sketch_from_counts(
    counts: DataFrame,
    col: str,
    cnt_col: str,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Build the SAME sketch as ``cm_sketch`` from a per-value count
    table instead of the raw stream: cell(d, bucket) = sum of the
    counts of values hashing there, which equals the occurrence count
    — bit-identical output, md5 evaluated once per DISTINCT value
    instead of once per occurrence (the minhash_signatures vocabulary
    trick).

    When to use which: ``cm_sketch`` is the pure streaming-build path
    — its only shuffle is the depth*width cell grid (map-side
    combined), no value-keyed shuffle at any volume. This variant is
    for plans that ALREADY aggregate per value (q100 needs exact
    truth counts anyway): reusing that aggregate makes the hash cost
    vocabulary-sized for free.
    """
    return (
        counts.select(
            F.col(cnt_col).alias("_c"),
            F.posexplode(
                F.array(*[cms_bucket(col, d, width) for d in range(depth)])
            ).alias("d", "bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("_c").alias("cnt"))
    )


#: alpha_256 = 0.7213/(1 + 1.079/256) in ppm — the HLL bias constant
#: (Flajolet et al. 2007) for m=256 registers, frozen as an integer
#: so both engines compute the identical estimate.
HLL_ALPHA_PPM = 718_273

#: alpha·m²·2^57 — the estimate numerator, exact integer.
_HLL_EST_NUM = HLL_ALPHA_PPM * 65_536 * (1 << 57)


def portable_hll_registers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group PORTABLE HyperLogLog registers (m=256, md5-derived):
    bucket = first md5 byte, rank = 1 + leading zero bits of the next
    56 — unlike a DataSketches binary (Spark's ``hll_sketch_agg``),
    these registers are a plain (group, bucket, r) table any engine
    can rebuild bit-for-bit (the value-oracle requirement), and they
    merge by MAX like any HLL. Sparse: absent buckets mean r=0.
    One corpus-sized groupBy; output is groups x <=256 rows."""
    h = F.md5(F.col(value_col).cast("string"))
    rho = (
        "4 * length(regexp_extract(_tail, '^0*', 0))"
        " + (CASE substr(_tail,"
        " length(regexp_extract(_tail, '^0*', 0)) + 1, 1)"
        "   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2"
        "   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1"
        "   WHEN '7' THEN 1 ELSE 0 END) + 1"
    )
    return (
        df.select(
            F.col(group_col).alias("_g"),
            F.expr(
                f"CAST(conv(substr(md5(CAST({value_col} AS STRING)),"
                " 1, 2), 16, 10) AS INT)"
            ).alias("_bkt"),
            F.substring(h, 3, 14).alias("_tail"),
        )
        .withColumn("_r", F.expr(rho))
        .groupBy("_g", "_bkt")
        .agg(F.max("_r").alias("_r"))
    )


def _hll_estimate_expr() -> str:
    """Raw HLL estimate from a sparse (sum-of-terms, n-present) pair:
    SUM 2^-r over all 256 registers, scaled 2^57 so every term is an
    integer (r <= 57), absent buckets contributing 2^57 each. No
    small/large-range correction — documented spec; the overlap
    readout wants mergeable MONOTONE estimates, and both engines
    apply the identical formula."""
    return (
        f"CAST({_HLL_EST_NUM} AS DECIMAL(38,0))"
        " DIV ((_ssum + (256 - _nbk)"
        f" * CAST({1 << 57} AS DECIMAL(38,0))) * 1000000)"
    )


def hll_overlap_matrix(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Distinct-value overlap between every pair of groups by HLL SET
    ALGEBRA — |A∩B| ≈ E(A) + E(B) − E(A∪B) with the union estimated
    from the MAX-merged registers, never from data: the way a 100 TB
    pipeline compares source vocabularies without an exact distinct
    (q154's exact overlap dies on the token-pair shuffle at scale;
    this reads groups x 256 register rows). Estimates are the raw
    integer HLL formula (see :func:`_hll_estimate_expr`), so the
    intersection can floor below 0 on tiny/disjoint groups — reported
    raw, clamped only inside jaccard_ppm.

    Output per group pair (a < b): (source_a, source_b, est_a, est_b,
    est_union, est_inter, jaccard_ppm)."""
    from ursa_major_choir_etl_spark.caching import stage

    regs = stage(portable_hll_registers(df, group_col, value_col))
    term = F.expr("CAST(shiftleft(1L, 57 - _r) AS DECIMAL(38,0))")
    est = F.expr(_hll_estimate_expr())
    singles = (
        regs.groupBy("_g")
        .agg(
            F.sum(term).alias("_ssum"),
            F.count(F.lit(1)).alias("_nbk"),
        )
        .select("_g", F.expr(f"CAST({_hll_estimate_expr()} AS BIGINT)").alias("_est"))
    )
    singles = stage(singles)
    srcs = regs.select("_g").distinct()
    pairs = (
        srcs.select(F.col("_g").alias("_ga"))
        .crossJoin(srcs.select(F.col("_g").alias("_gb")))
        .filter(F.col("_ga") < F.col("_gb"))
    )
    merged = (
        regs.join(
            F.broadcast(pairs),
            (F.col("_g") == F.col("_ga")) | (F.col("_g") == F.col("_gb")),
        )
        .groupBy("_ga", "_gb", "_bkt")
        .agg(F.max("_r").alias("_r"))
    )
    unions = (
        merged.groupBy("_ga", "_gb")
        .agg(
            F.sum(term).alias("_ssum"),
            F.count(F.lit(1)).alias("_nbk"),
        )
        .select(
            "_ga",
            "_gb",
            F.expr(f"CAST({_hll_estimate_expr()} AS BIGINT)").alias(
                "est_union"
            ),
        )
    )
    ea = singles.select(
        F.col("_g").alias("_ga"), F.col("_est").alias("est_a")
    )
    eb = singles.select(
        F.col("_g").alias("_gb"), F.col("_est").alias("est_b")
    )
    return (
        unions.join(F.broadcast(ea), "_ga")
        .join(F.broadcast(eb), "_gb")
        .withColumn(
            "est_inter", F.col("est_a") + F.col("est_b") - F.col("est_union")
        )
        .withColumn(
            "jaccard_ppm",
            F.expr(
                "CASE WHEN est_union > 0 THEN"
                " CAST(greatest(est_inter, 0L) * 1000000 DIV est_union"
                " AS BIGINT) END"
            ),
        )
        .select(
            F.col("_ga").alias("source_a"),
            F.col("_gb").alias("source_b"),
            "est_a",
            "est_b",
            "est_union",
            "est_inter",
            "jaccard_ppm",
        )
        .orderBy("source_a", "source_b")
    )
